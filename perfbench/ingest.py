"""``ingest`` workload: a closed-loop drain of a Kafka-shaped backlog of
proto messages through the paper's hot path,

    ProtoIngest.apply -> WarehouseSink (day-partitioned, DLQ) -> idempotent(BatchLedger)

as a file-source stream with ``trigger(availableNow=True)``. One
micro-batch is one poll: 8 partition files of 2,500 messages
(``maxFilesPerTrigger=8``). A drain moves the next backlog of polls into
the source directory and runs the stream until it has committed them.

Every drain of one instance, set-up warm-ups included, continues one
stream (one source, warehouse, DLQ, ledger and checkpoint) across session
restarts, as a restarted sink would.
"""

from __future__ import annotations

import glob
import json
import os
import time
import traceback

from perfbench.gen import PARTITIONS, ROWS_PER_PARTITION, row_hash
from perfbench.harness import (
    data_files,
    median,
    progress_phases,
    progress_rows,
    self_times_in,
    stream_layers,
)

KAFKA_DDL = (
    "key BINARY, value BINARY, topic STRING, partition INT, offset BIGINT, timestamp TIMESTAMP"
)


class Ingest:
    # A measured unit is one poll; --seconds buys one poll per 3.5 s (a
    # poll's wall time at the time of writing), so the work done is fixed
    # by --seconds and not by how fast the program is.
    UNIT_SECONDS = 3.5

    def __init__(self, bench) -> None:
        self.bench = bench
        with open(os.path.join(bench.inputs, "digest.json")) as fh:
            self.digest = json.load(fh)
        root = bench.fresh_dir("ingest")
        self.src, self.warehouse, self.dlq, self.ledger, self.ckpt = (
            os.path.join(root, d) for d in ("src", "warehouse", "dlq", "ledger", "ckpt")
        )
        os.makedirs(self.src)
        self.fed: list[int] = []  # generated polls moved into the source, in order
        self.attempted = self.failed = 0
        self.attempts: list[int] = []  # sink.push return values (traced only)

    def drain(self, n_batches: int):
        """Feed the next n backlog polls to the stream and drain them.
        Returns (wall seconds, progress of each micro-batch)."""
        from beast_spark.queries.advanced import Q53_PROTO
        from beast_spark.streaming.evolution import BatchLedger, idempotent
        from beast_spark.streaming.ingest import ProtoIngest
        from beast_spark.streaming.sink import WarehouseSink

        for _ in range(n_batches):
            b = self.bench.next_batch()
            for p in range(PARTITIONS):
                name = f"b{b:04d}-p{p}.parquet"
                os.rename(os.path.join(self.bench.inputs, "backlog", name),
                          os.path.join(self.src, name))
            self.fed.append(b)
        self.attempted += n_batches

        tr = self.bench.tracer
        ingest = ProtoIngest(Q53_PROTO)
        sink = WarehouseSink(self.warehouse, dlq_path=self.dlq, partition_col="ts")
        ledger = BatchLedger(self.ledger)
        tr.wrap_method(sink, "write_dlq", "sink.dlq")
        tr.wrap_method(sink, "_write_valid", "sink.write")
        tr.wrap_method(ledger, "commit", "ledger.commit")
        if tr.enabled:
            push = sink.push

            def counted_push(*args, **kwargs):
                with tr.span("sink.push"):
                    n = push(*args, **kwargs)
                self.attempts.append(n)
                return n

            sink.push = counted_push
        body = idempotent(ledger, sink.foreach_batch_writer(tr.wrap(ingest.apply, "ingest.apply")))
        stream = (
            self.bench.spark.readStream.schema(KAFKA_DDL)
            .option("maxFilesPerTrigger", PARTITIONS)
            .parquet(self.src)
        )
        t0 = time.perf_counter()
        q = (
            stream.writeStream.foreachBatch(tr.wrap(body, "ingest.batch"))
            .option("checkpointLocation", self.ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        except Exception:
            self.failed += n_batches
            raise
        wall = time.perf_counter() - t0
        return wall, [p for p in q.recentProgress if progress_rows(p) > 0]

    def warm_up(self) -> None:
        self.drain(1)

    # -- measurement -----------------------------------------------------

    def run_phase(self, units: int) -> dict:
        """One drain of a ``units``-poll backlog."""
        before = data_files(self.warehouse)
        first = len(self.fed)
        wall, progress = 0.0, []
        start = time.time()
        try:
            wall, progress = self.drain(units)
        except Exception:  # noqa: BLE001 - a failed drain is counted, not fatal
            traceback.print_exc()
        phases = [progress_phases(p) for p in progress]
        added = {k: v for k, v in data_files(self.warehouse).items() if k not in before}
        return {
            "window": (start, time.time()),
            "wall": wall,
            "rows": len(progress) * PARTITIONS * ROWS_PER_PARTITION,
            "phases": phases,
            "trigger_ms": [p.get("triggerExecution", 0.0) for p in phases],
            "polls": self.fed[first:],
            "warehouse_added": added,
        }

    def ops_in(self, phase: dict) -> int:
        return len(phase["phases"])

    def e2e(self, phase: dict, setups: list[float]) -> dict:
        return {
            "setup_s": (median(setups), "s"),
            "rows_per_s": (phase["rows"] / phase["wall"] if phase["wall"] else 0.0, "rows/s"),
            "batch_p50_ms": (median(phase["trigger_ms"]), "ms"),
        }

    def layers(self, phase: dict, log) -> dict:
        from perfbench.eventlog import node_output_rows

        n = max(len(phase["phases"]), 1)
        own = self_times_in(self.bench.tracer, phase["window"])
        valid = sum(self.digest["per_batch"][b]["valid_rows"] for b in phase["polls"])
        out = stream_layers(phase)
        out.update({
            "protowire.decode_us_per_row": (self.decode_us_per_row(), "us"),
            "ingest.decode_rows_per_input_row": (
                node_output_rows(log, "MapInArrow", [phase["window"]]) / max(phase["rows"], 1),
                "ratio"),
            "sink.write_attempts": (sum(self.attempts) / max(len(self.attempts), 1), "count/batch"),
            "sink.files_per_batch": (len(phase["warehouse_added"]) / n, "count/batch"),
            "sink.bytes_per_row": (sum(phase["warehouse_added"].values()) / max(valid, 1), "bytes/row"),
        })
        for span in ("ingest.apply", "sink.push", "sink.write", "sink.dlq", "ledger.commit"):
            out[f"{span}_ms"] = (own.get(span, 0.0) * 1000 / n, "ms/batch")
        return out

    def decode_us_per_row(self) -> float:
        """Driver-side ``compile_decoder`` time per message over one
        generated partition file (best of 3 passes)."""
        import pyarrow.parquet as pq

        from beast_spark.plans.protowire import compile_decoder
        from beast_spark.queries.advanced import Q53_PROTO

        path = os.path.join(self.bench.inputs, "sample.parquet")
        values = [v for v in pq.read_table(path, columns=["value"]).column(0).to_pylist() if v]
        decode = compile_decoder(Q53_PROTO, True)
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            for v in values:
                try:
                    decode(v)
                except ValueError:  # the malformed messages
                    pass
            best = min(best, time.perf_counter() - t0)
        return best / len(values) * 1e6

    # -- correctness -----------------------------------------------------

    def check(self) -> int:
        """Polls whose output is wrong: per poll, the warehouse rows and
        content hash, the DLQ rows of each kind and insert_id uniqueness
        must match the generator's digest. Read with DuckDB, not Spark."""
        got = self._read_outputs()
        wrong = 0
        for b in self.fed:
            want = dict(self.digest["per_batch"][b], duplicate_insert_ids=0)
            if got.get(b) != want:
                wrong += 1
                print(f"ingest check: poll {b} got {got.get(b)} want {want}", flush=True)
        return wrong

    def _read_outputs(self) -> dict[int, dict]:
        import duckdb

        out: dict[int, dict] = {}

        def entry(offset):
            return out.setdefault(offset // ROWS_PER_PARTITION, {
                "valid_rows": 0, "content_hash": 0,
                "dlq_rows": {"null": 0, "malformed": 0, "oob": 0}, "duplicate_insert_ids": 0,
            })

        con = duckdb.connect()
        table = f"read_parquet('{self.warehouse}/**/*.parquet', hive_partitioning=true)"
        if glob.glob(os.path.join(self.warehouse, "**", "*.parquet"), recursive=True):
            for r in con.execute(
                f"""SELECT event_id, user_id, event_type, value, props, epoch_us(ts),
                           message_partition, message_offset FROM {table}"""
            ).fetchall():
                e = entry(r[7])
                e["valid_rows"] += 1
                e["content_hash"] = (e["content_hash"] + row_hash(r)) % (1 << 64)
            for (off,) in con.execute(
                f"SELECT any_value(message_offset) FROM {table} GROUP BY insert_id HAVING count(*) > 1"
            ).fetchall():
                entry(off)["duplicate_insert_ids"] += 1
        if glob.glob(os.path.join(self.dlq, "**", "*.json"), recursive=True):
            for error, offset, insert_id in con.execute(
                f"""SELECT error, "offset", insert_id FROM read_json_auto(
                        '{self.dlq}/**/*.json', hive_partitioning=true, union_by_name=true,
                        format='newline_delimited')"""
            ).fetchall():
                if error == "null message":
                    entry(offset)["dlq_rows"]["null"] += 1
                elif error.startswith("DESERIALIZE"):
                    entry(offset)["dlq_rows"]["malformed"] += 1
                elif error == "OOB partition date":  # insert_id = topic_partition_offset
                    entry(int(insert_id.rsplit("_", 1)[1]))["dlq_rows"]["oob"] += 1
        con.close()
        for e in out.values():
            e["content_hash"] = format(e["content_hash"], "016x")
        return out
