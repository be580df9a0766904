"""The generator's ingest digests agree with decoding its own messages,
and the same seed gives the same messages."""

import datetime as dt
import os

import pyarrow.parquet as pq

from perfbench import gen
from beast_spark.plans.protowire import compile_decoder
from beast_spark.queries.advanced import Q53_PROTO


def _gen(tmp_path, name, seed=5):
    out = str(tmp_path / name)
    assert gen.main(["--workload", "ingest", "--seed", str(seed), "--out", out, "--batches", "1"]) == 0
    return out


def test_ingest_digest_matches_decoded_messages(tmp_path):
    import json

    out = _gen(tmp_path, "a")
    with open(os.path.join(out, "digest.json")) as fh:
        want = json.load(fh)["per_batch"][0]
    decode = compile_decoder(Q53_PROTO, True)
    cutoff = gen.run_date() - dt.timedelta(days=gen.OOB_PAST_DAYS)
    rows, dlq = [], {"null": 0, "malformed": 0, "oob": 0}
    for p in range(gen.PARTITIONS):
        t = pq.read_table(os.path.join(out, "backlog", f"b0000-p{p}.parquet")).to_pylist()
        assert len(t) == gen.ROWS_PER_PARTITION
        for r in t:
            if r["value"] is None:
                dlq["null"] += 1
                continue
            try:
                m = decode(r["value"])
            except ValueError:
                dlq["malformed"] += 1
                continue
            if m["ts"] < cutoff:
                dlq["oob"] += 1
                continue
            ts_us = (m["ts"] - gen.EPOCH) // dt.timedelta(microseconds=1)
            rows.append(tuple(m.get(c) for c in ("event_id", "user_id", "event_type", "value", "props"))
                        + (ts_us, r["partition"], r["offset"]))
    assert dlq == want["dlq_rows"]
    assert all(dlq.values())
    assert len(rows) == want["valid_rows"]
    assert gen.content_hash(rows) == want["content_hash"]


def test_same_seed_same_messages(tmp_path):
    a, b = _gen(tmp_path, "a"), _gen(tmp_path, "b")
    c = _gen(tmp_path, "c", seed=6)
    read = lambda d: pq.read_table(os.path.join(d, "backlog", "b0000-p3.parquet"),  # noqa: E731
                                   columns=["value", "offset"])
    assert read(a).equals(read(b))
    assert not read(a).equals(read(c))
