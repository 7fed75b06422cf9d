"""Real-AWS Kinesis adapter tests against a scripted fake service.

Mirrors the reference's mock-service strategy exactly: iterator values
are "stream:shard:seq" strings, GetRecords serves the first batch with
a sequence number above the iterator's, retry behavior is scripted via
injected throttle errors (triton/test_util.go:73-162,
triton/stream_test.go:88-184). No AWS, no boto3 import anywhere.
"""

from __future__ import annotations

import random

import pytest

from go_triton_spark.sources.kinesis_boto3 import (
    MAX_RETRIES, MAX_SHARDS, KinesisSimpleStreamReader, RetryExhausted,
    ShardPoller, list_shards,
)


class FakeThrottle(Exception):
    def __init__(self, code="ProvisionedThroughputExceededException"):
        super().__init__(code)
        self.response = {"Error": {"Code": code}}


class FakeKinesisClient:
    """Scripted twin of testKinesisService (test_util.go:73-162):
    iterator == "stream:shard:seq"; each get_records serves the next
    single sequence-number batch after the iterator position."""

    def __init__(self):
        # {stream: {shard: [(seq, [payload, ...]), ...]}} seq-sorted
        self.streams: dict[str, dict[str, list]] = {}
        self.arrivals: dict[str, int] = {}   # seq -> arrival ns
        self.errors_to_serve: list[Exception] = []
        self.get_records_calls = 0

    def add_record(self, stream, shard, seq, data, pkey="pk"):
        import time
        shards = self.streams.setdefault(stream, {})
        shards.setdefault(shard, []).append((seq, data, pkey))
        shards[shard].sort(key=lambda r: r[0])
        self.arrivals[seq] = time.time_ns()

    def describe_stream(self, StreamName):
        if StreamName not in self.streams:
            raise RuntimeError("Failed to find stream")
        return {"StreamDescription": {
            "Shards": [{"ShardId": s} for s in self.streams[StreamName]],
            "StreamName": StreamName, "StreamStatus": "ACTIVE"}}

    def get_shard_iterator(self, StreamName, ShardId, ShardIteratorType,
                           StartingSequenceNumber=None, Timestamp=None):
        recs = self.streams.get(StreamName, {}).get(ShardId, [])
        if ShardIteratorType == "AFTER_SEQUENCE_NUMBER":
            pos = StartingSequenceNumber
        elif ShardIteratorType == "LATEST":
            pos = recs[-1][0] if recs else ""
        elif ShardIteratorType == "AT_TIMESTAMP":
            # start at the first record whose arrival >= Timestamp
            ns = int(Timestamp.timestamp() * 1e9)
            before = [r[0] for r in recs
                      if self.arrivals.get(r[0], 0) < ns]
            pos = before[-1] if before else ""
        else:  # TRIM_HORIZON
            pos = ""
        return {"ShardIterator": f"{StreamName}:{ShardId}:{pos}"}

    def get_records(self, ShardIterator, Limit):
        self.get_records_calls += 1
        if self.errors_to_serve:
            raise self.errors_to_serve.pop(0)
        stream, shard, seq = ShardIterator.split(":")
        records, next_seq = [], ""
        for sn, data, pkey in self.streams[stream][shard]:
            if sn > seq:
                records.append({"SequenceNumber": sn, "Data": data,
                                "PartitionKey": pkey})
                next_seq = sn
                break  # one seq-batch per call, like the Go mock
        next_iter = (f"{stream}:{shard}:{next_seq}" if next_seq
                     else ShardIterator)
        return {"NextShardIterator": next_iter, "Records": records,
                "MillisBehindLatest": 0}


def _poller(client, shard="shard-0000", **kw):
    p = ShardPoller(client, "test-stream", shard, **kw)
    p._sleep = lambda s: None  # no real waiting in tests
    return p


def test_trim_horizon_reads_in_sequence_order():
    c = FakeKinesisClient()
    for i in range(3):
        c.add_record("test-stream", "shard-0000", f"a{i}", f"d{i}".encode())
    p = _poller(c)
    got = []
    for _ in range(4):  # 3 batches + one empty poll
        got += [r["Data"] for r in p.fetch(min_interval=0.0)]
    assert got == [b"d0", b"d1", b"d2"]
    assert p.last_sequence_number == "a2"


def test_latest_skips_backlog_then_serves_new_records():
    c = FakeKinesisClient()
    c.add_record("test-stream", "shard-0000", "a0", b"old")
    p = _poller(c, start_position="LATEST")
    assert p.fetch(min_interval=0.0) == []
    c.add_record("test-stream", "shard-0000", "a1", b"new")
    assert [r["Data"] for r in p.fetch(min_interval=0.0)] == [b"new"]


def test_resume_after_sequence_number():
    c = FakeKinesisClient()
    for i in range(3):
        c.add_record("test-stream", "shard-0000", f"a{i}", f"d{i}".encode())
    p = _poller(c, last_sequence_number="a0")
    assert [r["Data"] for r in p.fetch(min_interval=0.0)] == [b"d1"]


def test_retry_backoff_then_success():
    # stream_test.go:126-161: throttle errors retried, then data flows
    c = FakeKinesisClient()
    c.add_record("test-stream", "shard-0000", "a0", b"d0")
    c.errors_to_serve = [FakeThrottle(), FakeThrottle()]
    sleeps = []
    p = _poller(c)
    p._sleep = sleeps.append
    assert [r["Data"] for r in p.fetch(min_interval=0.0)] == [b"d0"]
    assert p.retries == 0  # reset on success
    assert sleeps == [0.25, 1.0]  # retries^2 * 250 ms


def test_retry_exhaustion_raises():
    c = FakeKinesisClient()
    c.add_record("test-stream", "shard-0000", "a0", b"d0")
    c.errors_to_serve = [FakeThrottle() for _ in range(MAX_RETRIES + 1)]
    p = _poller(c)
    with pytest.raises(RetryExhausted):
        p.fetch(min_interval=0.0)


def test_non_retryable_error_propagates():
    c = FakeKinesisClient()
    c.add_record("test-stream", "shard-0000", "a0", b"d0")
    boom = FakeThrottle(code="AccessDeniedException")
    c.errors_to_serve = [boom]
    p = _poller(c)
    with pytest.raises(FakeThrottle):
        p.fetch(min_interval=0.0)


def test_rate_limit_waits_between_polls():
    # stream_test.go:88-102: second poll within the interval must wait
    c = FakeKinesisClient()
    c.add_record("test-stream", "shard-0000", "a0", b"d0")
    clock = {"t": 100.0}
    sleeps = []
    p = _poller(c)
    p._now = lambda: clock["t"]
    p._sleep = sleeps.append
    p.fetch(min_interval=1.0)
    clock["t"] += 0.3
    p.fetch(min_interval=1.0)
    assert sleeps and abs(sleeps[-1] - 0.7) < 1e-9


def test_list_shards_and_cap():
    c = FakeKinesisClient()
    for i in range(3):
        c.add_record("test-stream", f"shard-{i:04d}", "a0", b"x")
    assert list_shards(c, "test-stream") == [
        "shard-0000", "shard-0001", "shard-0002"]
    big = FakeKinesisClient()
    for i in range(MAX_SHARDS + 1):
        big.add_record("s", f"shard-{i:05d}", "a0", b"x")
    with pytest.raises(ValueError, match="max 100"):
        list_shards(big, "s")


def test_simple_reader_microbatches_and_resume():
    """Multi-shard merge + offset handoff (stream_reader_test.go:5-82):
    batches carry {shard: last_seq} offsets; a NEW reader resumed from
    those offsets sees only later records (exactly-once shape)."""
    c = FakeKinesisClient()
    for i in range(2):
        c.add_record("test-stream", "shard-0000", f"a{i}", f"A{i}".encode())
        c.add_record("test-stream", "shard-0001", f"b{i}", f"B{i}".encode())
    r = KinesisSimpleStreamReader(c, "test-stream", min_interval=0.0)
    start = r.initialOffset()
    assert start == {"shard-0000": "", "shard-0001": ""}
    rows1, mid = r.read(start)
    rows2, end = r.read(mid)
    data = {bytes(row[4]) for row in rows1 + rows2}
    assert data == {b"A0", b"A1", b"B0", b"B1"}
    assert end == {"shard-0000": "a1", "shard-0001": "b1"}
    # crash/restart: fresh reader, same committed offsets
    c.add_record("test-stream", "shard-0000", "a2", b"A2")
    r2 = KinesisSimpleStreamReader(c, "test-stream", min_interval=0.0)
    rows3, _ = r2.read(end)
    assert [bytes(x[4]) for x in rows3] == [b"A2"]


def test_simple_reader_replay_between_offsets():
    c = FakeKinesisClient()
    for i in range(3):
        c.add_record("test-stream", "shard-0000", f"a{i}", f"d{i}".encode())
    r = KinesisSimpleStreamReader(c, "test-stream", min_interval=0.0)
    rows = r.readBetweenOffsets({"shard-0000": "a0"}, {"shard-0000": "a2"})
    assert [bytes(x[4]) for x in rows] == [b"d1", b"d2"]


def test_replay_of_unseen_child_shard_under_latest_uses_horizon():
    """Crash-recovery replay of a resharding child shard that is IN the
    committed end but ABSENT from start must read TRIM_HORIZON even
    when the reader was configured LATEST — a LATEST iterator opens
    past the committed range and returns none of its records (the
    readBetweenOffsets mirror of read()'s first_seen rule)."""
    c = FakeKinesisClient()
    for i in range(2):
        c.add_record("test-stream", "child-0002", f"c{i}", f"d{i}".encode())
    r = KinesisSimpleStreamReader(c, "test-stream", start_position="LATEST",
                                  min_interval=0.0)
    rows = r.readBetweenOffsets({}, {"child-0002": "c1"})
    assert [bytes(x[4]) for x in rows] == [b"d0", b"d1"]


def test_reader_rejects_bad_start_position():
    with pytest.raises(ValueError):
        KinesisSimpleStreamReader(FakeKinesisClient(), "s",
                                  start_position="YESTERDAY")


def test_end_to_end_streaming_through_spark(spark, tmp_path):
    """Full Structured Streaming pass: format('kinesis') with the
    in-package scripted service, processAllAvailable into a memory
    sink, records from both shards delivered exactly once."""
    from go_triton_spark.sources.kinesis_boto3 import register_kinesis_source

    register_kinesis_source(spark)
    df = (spark.readStream.format("kinesis")
          .option("stream_name", "demo")
          .option("client_factory",
                  "go_triton_spark.sources.kinesis_boto3:demo_client")
          .option("min_poll_interval", "0")
          .load())
    q = (df.writeStream.format("memory").queryName("kinesis_e2e")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .start())
    try:
        for _ in range(8):  # one seq-batch per shard per poll
            q.processAllAvailable()
        rows = spark.sql("SELECT * FROM kinesis_e2e").collect()
    finally:
        q.stop()
    got = sorted(bytes(r["data"]).decode() for r in rows)
    assert got == ["A0", "A1", "A2", "B0", "B1", "B2"]
    shards = {r["shard_id"] for r in rows}
    assert shards == {"shard-0000", "shard-0001"}


def test_decode_msgpack_column_skips_corrupt(spark):
    """S5 decode semantics at the column level: good maps decode to the
    declared schema, corrupt bytes and non-map payloads drop."""
    import datetime as dt

    from pyspark.sql import types as T

    from go_triton_spark.codec.decode import decode_msgpack_column
    from go_triton_spark.codec.msgpack_codec import packb

    schema = T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("note", T.StringType()),
    ])
    ts = dt.datetime(2026, 8, 13, 12, 0, tzinfo=dt.timezone.utc)
    payloads = [
        (packb({"event_id": 1, "ts": ts, "note": "ok"}),),
        (b"\xc1garbage",),                      # corrupt -> skipped
        (packb([1, 2, 3]),),                    # non-map -> skipped
        (packb({"event_id": 2, "ts": ts}),),    # missing field -> null
    ]
    df = spark.createDataFrame(payloads, "data binary")
    rows = decode_msgpack_column(df, schema).orderBy("event_id").collect()
    assert [r["event_id"] for r in rows] == [1, 2]
    assert rows[0]["note"] == "ok" and rows[1]["note"] is None
    assert rows[0]["ts"] is not None


def test_store_from_kinesis_source_end_to_end(spark, tmp_path):
    """The reference's core loop on the real-AWS adapter path: poll
    the (scripted) Kinesis service, msgpack-decode payloads with
    corrupt-skip, archive partitioned, replay with cat."""
    import datetime as dt

    from go_triton_spark.config import load_config
    from go_triton_spark.engine import TritonEngine
    from go_triton_spark.types import EVENTS_SCHEMA

    cfg = load_config("""
events:
  name: demo
  partition_key: user_id
  source: kinesis
  client_factory: go_triton_spark.sources.kinesis_boto3:demo_client_msgpack
  min_poll_interval: 0
  polls_per_batch: 8
""")
    eng = TritonEngine(spark, str(tmp_path), config=cfg, client="kin")
    pipe = eng.store("events", schema=EVENTS_SCHEMA, once=True)
    pipe.await_once()
    pipe.stop()
    today = dt.date.today()
    rows = eng.cat("events", today).collect()
    # 6 good records across 2 shards; the corrupt payload is dropped
    assert sorted(r["event_id"] for r in rows) == [0, 1, 2, 3, 4, 5]
    types = {r["event_type"] for r in rows}
    assert types == {"click", "view"}


OFF_TYPE_TS = 1_700_000_000      # epoch seconds: 2023-11-14 22:13:20 UTC


def off_type_client():
    """``client_factory`` target: six well-typed msgpack events on two
    shards plus one record whose every field is off-type for
    EVENTS_SCHEMA."""
    import datetime as dt

    from go_triton_spark.codec.msgpack_codec import packb

    ts = dt.datetime(2026, 8, 13, 12, 0, tzinfo=dt.timezone.utc)
    c = FakeKinesisClient()
    for i in range(6):
        c.add_record("events", f"shard-000{i % 2}", f"a{i}", packb({
            "event_id": i, "ts": ts, "user_id": i % 3,
            "event_type": "click", "value": float(i), "props": "{}"}))
    c.add_record("events", "shard-0001", "a6", packb({
        "event_id": "6", "ts": OFF_TYPE_TS, "user_id": True,
        "event_type": 7, "value": "x", "props": {"k": [1, 2]}}))
    return c


def test_store_archives_around_off_type_record(spark, tmp_path):
    """One record of the wrong types in a format("kinesis") store must
    not stop the query: every field converts or becomes null, and all
    seven records are archived."""
    import datetime as dt

    from go_triton_spark.config import load_config
    from go_triton_spark.engine import TritonEngine
    from go_triton_spark.types import EVENTS_SCHEMA

    cfg = load_config("""
events:
  name: events
  partition_key: user_id
  source: kinesis
  client_factory: tests.test_kinesis_boto3:off_type_client
  min_poll_interval: 0
  polls_per_batch: 8
""")
    eng = TritonEngine(spark, str(tmp_path), config=cfg, client="kin")
    pipe = eng.store("events", schema=EVENTS_SCHEMA, once=True)
    try:
        pipe.await_once()
        assert pipe.query.exception() is None, pipe.query.exception()
    finally:
        pipe.stop()
    rows = {r["event_id"]: r for r in eng.cat("events", dt.date.today())
            .select(*EVENTS_SCHEMA.names).collect()}
    assert sorted(rows) == list(range(7))
    odd = rows[6]
    assert (odd["user_id"], odd["event_type"], odd["value"],
            odd["props"]) == (1, "7", None, '{"k": [1, 2]}')
    assert odd["ts"].timestamp() == OFF_TYPE_TS


def test_replay_with_numeric_sequence_numbers_across_lengths():
    """Real Kinesis sequence numbers are decimal strings ordered
    NUMERICALLY; replay must not stop early when the end sequence is
    longer than an intermediate one ('9' vs '10')."""
    c = FakeKinesisClient()
    for seq, data in [("8", b"d8"), ("9", b"d9"), ("10", b"d10"),
                      ("11", b"d11")]:
        c.add_record("test-stream", "shard-0000", seq, data)
    # the fake serves batches in lexicographic order of its sorted
    # store; use a numerically-sorted store to mirror real Kinesis
    c.streams["test-stream"]["shard-0000"].sort(key=lambda r: int(r[0]))

    class NumericFake(FakeKinesisClient):
        pass

    nf = NumericFake()
    nf.streams = c.streams

    def get_records(ShardIterator, Limit):
        nf.get_records_calls += 1
        stream, shard, seq = ShardIterator.split(":")
        pos = int(seq) if seq else -1
        for sn, data, pkey in nf.streams[stream][shard]:
            if int(sn) > pos:
                return {"NextShardIterator": f"{stream}:{shard}:{sn}",
                        "Records": [{"SequenceNumber": sn, "Data": data,
                                     "PartitionKey": pkey}],
                        "MillisBehindLatest": 0}
        return {"NextShardIterator": ShardIterator, "Records": [],
                "MillisBehindLatest": 0}

    nf.get_records = get_records
    r = KinesisSimpleStreamReader(nf, "test-stream", min_interval=0.0)
    rows = r.readBetweenOffsets({"shard-0000": "8"}, {"shard-0000": "11"})
    assert [bytes(x[4]) for x in rows] == [b"d9", b"d10", b"d11"]


def test_resharding_child_shard_reads_from_horizon_under_latest():
    """A shard discovered MID-STREAM (resharding child) must start
    TRIM_HORIZON even when the reader's start_position is LATEST —
    LATEST means skip the stream's backlog at FIRST start, not drop
    whatever landed in each new shard before its first poll (KCL
    reads children from horizon for the same reason)."""
    c = FakeKinesisClient()
    c.add_record("s", "shard-0000", "100", b"old")  # pre-start backlog
    r = KinesisSimpleStreamReader(c, "s", start_position="LATEST")
    start = r.initialOffset()

    rows, end = r.read(start)
    assert rows == []  # LATEST skipped the backlog on the known shard

    # resharding: a child shard appears WITH records already in it,
    # and the parent keeps flowing
    c.add_record("s", "shard-0001", "200", b"child-early")
    c.add_record("s", "shard-0001", "201", b"child-late")
    c.add_record("s", "shard-0000", "101", b"parent-new")
    rows, end2 = r.read(end)
    rows2, end3 = r.read(end2)  # fake serves one seq per poll
    got = sorted((shard, bytes(data))
                 for shard, _seq, _pk, _ts, data in rows + rows2)
    # the child's pre-discovery records are NOT lost; parent serves
    # only post-LATEST records
    assert got == [("shard-0000", b"parent-new"),
                   ("shard-0001", b"child-early"),
                   ("shard-0001", b"child-late")]
    assert end3["shard-0001"] == "201"


def test_empty_child_shard_survives_reader_restart_under_latest():
    """A child shard discovered while still EMPTY must stay out of the
    committed offset map: recording "" would make a FRESH reader
    (restart from checkpoint) treat it as known and give it a LATEST
    iterator, silently dropping records that land in it before the
    next poll. Absent, the restarted reader re-discovers it as
    first-seen and reads TRIM_HORIZON."""
    c = FakeKinesisClient()
    c.add_record("s", "shard-0000", "100", b"old")
    r1 = KinesisSimpleStreamReader(c, "s", start_position="LATEST")
    start = r1.initialOffset()
    _, end1 = r1.read(start)

    # resharding creates a child that has produced NOTHING yet
    c.streams.setdefault("s", {}).setdefault("shard-0001", [])
    _, end2 = r1.read(end1)
    assert "shard-0001" not in end2  # empty child not committed

    # records arrive in the child; the PROCESS RESTARTS (fresh reader,
    # offsets restored from the checkpoint) before the next poll
    c.add_record("s", "shard-0001", "200", b"child-early")
    r2 = KinesisSimpleStreamReader(c, "s", start_position="LATEST")
    rows, end3 = r2.read(end2)
    assert [(s, bytes(d)) for s, _q, _p, _t, d in rows] == \
        [("shard-0001", b"child-early")]
    assert end3["shard-0001"] == "200"


# =====================================================================
# Property-based resharding fuzz (VERDICT r5 ask #6)
# =====================================================================
#
# Random split/merge/empty-child/append/read/restart sequences against
# a scripted resharding Kinesis service, checked against an in-memory
# reference log: NO LOSS, NO DUP, per-shard order preserved (the
# stream_reader.go ordering guarantee), and readBetweenOffsets replays
# exactly the committed span. Seeded-random over >=100 topologies so
# every failure prints its reproducible seed.


class ReshardingFakeKinesis:
    """Scripted service whose topology mutates mid-stream: shards can
    split/merge (children start empty), closed parents stop growing.
    Sequence numbers are globally monotonic zero-padded decimals (the
    real Kinesis shape; numeric order = stream order). get_records
    serves up to Limit records per call — unlike the one-record mocks,
    a fetch can OVERSHOOT a committed range, which is exactly what a
    recovery replay must tolerate."""

    def __init__(self):
        self.shards: dict[str, list] = {}
        self.closed: set[str] = set()
        self.arrivals: dict[str, int] = {}   # seq -> arrival ns
        self._seq = 0
        self._next_shard = 0

    def new_shard(self) -> str:
        name = f"shardId-{self._next_shard:04d}"
        self._next_shard += 1
        self.shards[name] = []
        return name

    def append(self, shard: str, data: bytes) -> str:
        import time as _t
        assert shard not in self.closed
        self._seq += 1
        seq = f"{self._seq:012d}"
        self.shards[shard].append((seq, data))
        self.arrivals[seq] = _t.time_ns()
        return seq

    def split(self, parent: str) -> tuple[str, str]:
        self.closed.add(parent)
        return self.new_shard(), self.new_shard()

    def merge(self, a: str, b: str) -> str:
        self.closed.update((a, b))
        return self.new_shard()

    def open_shards(self) -> list[str]:
        return [s for s in self.shards if s not in self.closed]

    # --- the boto3 client surface the reader uses -------------------
    def describe_stream(self, StreamName):
        return {"StreamDescription": {
            "Shards": [{"ShardId": s} for s in sorted(self.shards)],
            "StreamName": StreamName, "StreamStatus": "ACTIVE"}}

    def get_shard_iterator(self, StreamName, ShardId, ShardIteratorType,
                           StartingSequenceNumber=None, Timestamp=None):
        recs = self.shards.get(ShardId, [])
        if ShardIteratorType == "AFTER_SEQUENCE_NUMBER":
            pos = StartingSequenceNumber
        elif ShardIteratorType == "LATEST":
            pos = recs[-1][0] if recs else ""
        elif ShardIteratorType == "AT_TIMESTAMP":
            ns = int(Timestamp.timestamp() * 1e9)
            before = [r[0] for r in recs if self.arrivals[r[0]] < ns]
            pos = before[-1] if before else ""
        else:
            pos = ""
        return {"ShardIterator": f"{StreamName}|{ShardId}|{pos}"}

    def get_records(self, ShardIterator, Limit):
        _, shard, pos = ShardIterator.split("|")
        out = [r for r in self.shards[shard] if r[0] > pos][:Limit]
        nxt = out[-1][0] if out else pos
        return {"NextShardIterator": ShardIterator.rsplit("|", 1)[0] + f"|{nxt}",
                "Records": [{"SequenceNumber": sn, "Data": d,
                             "PartitionKey": "pk"} for sn, d in out],
                "MillisBehindLatest": 0}


def _run_topology(seed: int) -> None:
    rng = random.Random(seed)
    svc = ReshardingFakeKinesis()
    for _ in range(rng.randint(1, 3)):
        svc.new_shard()

    latest = rng.random() < 0.3
    # pre-start backlog (skipped under LATEST)
    skipped: set[bytes] = set()
    for _ in range(rng.randint(0, 5)):
        sh = rng.choice(svc.open_shards())
        data = f"backlog-{seed}-{svc._seq}".encode()
        svc.append(sh, data)
        if latest:
            skipped.add(data)

    def new_reader():
        return KinesisSimpleStreamReader(
            svc, "s", start_position="LATEST" if latest else "TRIM_HORIZON",
            min_interval=0.0)

    # let the clock tick past the backlog appends: the AT_TIMESTAMP
    # boundary travels as a datetime (microsecond resolution), so a
    # same-microsecond backlog record would straddle it
    import time as _t
    t0 = _t.time_ns()
    while _t.time_ns() - t0 < 2_000:
        pass
    reader = new_reader()
    offsets = reader.initialOffset()
    consumed: list[tuple] = []
    history: list[tuple] = []

    def do_read():
        nonlocal offsets
        start = dict(offsets)
        rows, offsets = reader.read(start)
        consumed.extend(rows)
        history.append((start, dict(offsets), rows))

    n_appended = 0
    for _ in range(rng.randint(6, 18)):
        op = rng.random()
        open_shards = svc.open_shards()
        if op < 0.45 and open_shards:
            for _ in range(rng.randint(1, 4)):
                sh = rng.choice(open_shards)
                svc.append(sh, f"d-{seed}-{svc._seq}".encode())
                n_appended += 1
        elif op < 0.55 and len(open_shards) >= 1:
            svc.split(rng.choice(open_shards))      # children start EMPTY
        elif op < 0.62 and len(open_shards) >= 2:
            a, b = rng.sample(open_shards, 2)
            svc.merge(a, b)
        elif op < 0.85:
            do_read()
        else:
            reader = new_reader()                   # restart from offsets
    # drain: two consecutive empty reads = done
    empties = 0
    for _ in range(60):
        before = len(consumed)
        do_read()
        empties = empties + 1 if len(consumed) == before else 0
        if empties >= 2:
            break

    # --- the reference-log invariants -------------------------------
    all_data = [d for recs in svc.shards.values() for _, d in recs]
    want = sorted(d for d in all_data if d not in skipped)
    got = sorted(bytes(r[4]) for r in consumed)
    assert got == want, (
        f"seed={seed}: loss/dup — consumed {len(got)} vs appended "
        f"{len(want)} (latest={latest})")
    # per-shard order strictly increasing across batches and restarts
    per_shard: dict[str, list] = {}
    for r in consumed:
        per_shard.setdefault(r[0], []).append(int(r[1]))
    for sh, seqs in per_shard.items():
        assert seqs == sorted(seqs) and len(set(seqs)) == len(seqs), (
            f"seed={seed}: order violated on {sh}")
    # replay determinism: readBetweenOffsets over a committed span
    # returns EXACTLY that span's rows — no overshoot into later data
    for start, end, rows in rng.sample(history, min(3, len(history))):
        replayed = new_reader().readBetweenOffsets(start, end)
        assert sorted(bytes(r[4]) for r in replayed) == \
            sorted(bytes(r[4]) for r in rows), (
            f"seed={seed}: replay of {start}->{end} diverged")


def test_resharding_fuzz_100_topologies():
    for seed in range(200):
        _run_topology(seed)
