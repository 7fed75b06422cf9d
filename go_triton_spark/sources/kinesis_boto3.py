"""Real-AWS Kinesis source adapter (boto3), import-gated.

The reference's core input is a hand-rolled Kinesis poll loop
(triton/stream.go:113-177: GetShardIterator -> GetRecords, >= 1 s
between polls per shard, quadratic retry backoff on throttle errors,
1000-record fetch limit; shard listing triton/stream.go:247-258; 100
shard cap triton/stream_reader.go:56,97-100). This module is its
PySpark-native twin:

- ``ShardPoller`` mirrors ``ShardStreamReader`` one-to-one: iterator
  init from LATEST / TRIM_HORIZON / AFTER_SEQUENCE_NUMBER, rate-limited
  fetch, retry classification, last-sequence tracking.
- ``KinesisSimpleStreamReader`` drives one poller per shard and exposes
  the stream through the PySpark 4 ``SimpleDataSourceStreamReader``
  API: offsets are ``{shard: last_sequence_number}`` — the exact shape
  of the reference's checkpoint rows (triton/checkpoint.go:95-103) —
  committed atomically with the sink (exactly-once upgrade over the
  reference's checkpoint-after-upload at-least-once).

The Simple (driver-side) reader variant is deliberate: the reference
itself is a single-process reader (goroutine per shard), and OSS Spark
has no first-party Kinesis source to delegate to. Payloads stay
``binary`` (decode is a separate stage, as in the reference); schema is
``KINESIS_SCHEMA``. boto3 is imported lazily INSIDE the default client
factory — the module imports fine without AWS anywhere (CI never
touches it; tests inject a scripted fake exactly like
triton/test_util.go:73-162). For cluster-scale production fan-out,
bridge Kinesis to files (Firehose) and use the file source (SURVEY §7
hard-part #1).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import types as T

# Reference tuning constants (BASELINE.md; triton/stream.go:38-41).
MIN_POLL_INTERVAL = 1.0       # seconds between polls per shard
REQUEST_LIMIT = 1000          # max records per GetRecords
MAX_RETRIES = 4               # throttle retries before giving up
MAX_SHARDS = 100              # triton/stream_reader.go:56

# AWS error codes the reference retries on (triton/stream.go:77-85).
RETRY_ERROR_CODES = frozenset({
    "ProvisionedThroughputExceededException",
    "ThrottlingException",
    "ServiceUnavailable",
    "InternalFailure",
})

# reserved offset-map key pinning LATEST's backlog boundary (never a
# shard id — AWS shard ids are "shardId-...")
START_NS_KEY = "__start_ns__"

KINESIS_SCHEMA = T.StructType([
    T.StructField("shard_id", T.StringType()),
    T.StructField("sequence_number", T.StringType()),
    T.StructField("partition_key", T.StringType()),
    T.StructField("approximate_arrival", T.TimestampType()),
    T.StructField("data", T.BinaryType()),
])


def default_client(region: str | None = None, endpoint_url: str | None = None):
    """boto3 Kinesis client — the only place boto3 is touched."""
    try:
        import boto3  # noqa: PLC0415 — deliberate lazy import gate
    except ImportError as exc:  # pragma: no cover - AWS-free CI path
        raise ImportError(
            "boto3 is required for the real-AWS kinesis source; "
            "install boto3, or pass a scripted client via the "
            "client_factory option") from exc
    kwargs = {}
    if region:
        kwargs["region_name"] = region
    if endpoint_url:
        kwargs["endpoint_url"] = endpoint_url
    return boto3.client("kinesis", **kwargs)


def list_shards(client, stream_name: str) -> list[str]:
    """S19 shard listing (triton/stream.go:247-258), 100-shard cap."""
    desc = client.describe_stream(StreamName=stream_name)
    shards = [s["ShardId"] for s in desc["StreamDescription"]["Shards"]]
    if len(shards) > MAX_SHARDS:
        raise ValueError(
            f"stream {stream_name} has {len(shards)} shards; "
            f"max {MAX_SHARDS} (triton/stream_reader.go:97-100)")
    return sorted(shards)


class RetryExhausted(Exception):
    pass


def _seq_ge(a: str, b: str) -> bool:
    """Sequence-number comparison: real Kinesis sequence numbers are
    decimal digit strings whose NUMERIC order is the stream order —
    lexicographic compare breaks across lengths ('9' > '10'). Falls
    back to string order for non-numeric fakes."""
    if a.isdigit() and b.isdigit():
        return int(a) >= int(b)
    return a >= b


def _error_code(exc: Exception) -> str | None:
    """AWS error code from a botocore ClientError (or fake)."""
    resp = getattr(exc, "response", None)
    if isinstance(resp, dict):
        return resp.get("Error", {}).get("Code")
    return None


@dataclass
class ShardPoller:
    """One shard's poll state — ShardStreamReader's twin.

    (stream.go fields: NextIteratorValue, LastSequenceNumber, retries,
    lastRequest; methods initIterator/fetchMoreRecords/wait.)
    """

    client: object
    stream_name: str
    shard_id: str
    start_position: str = "TRIM_HORIZON"   # or LATEST / AT_TIMESTAMP
    start_timestamp_ns: int | None = None  # for AT_TIMESTAMP
    last_sequence_number: str | None = None
    next_iterator: str | None = None
    retries: int = 0
    _last_request: float = field(default=0.0, repr=False)
    # injectable clock/sleep so tests assert timing without real waits
    _now: callable = field(default=time.monotonic, repr=False)
    _sleep: callable = field(default=time.sleep, repr=False)

    def _init_iterator(self) -> None:
        """triton/stream.go:43-61: seq -> AFTER_SEQUENCE_NUMBER, else
        the configured start position."""
        if self.last_sequence_number:
            kwargs = {"ShardIteratorType": "AFTER_SEQUENCE_NUMBER",
                      "StartingSequenceNumber": self.last_sequence_number}
        elif self.start_position == "AT_TIMESTAMP":
            import datetime as _dt
            ts = _dt.datetime.fromtimestamp(
                (self.start_timestamp_ns or 0) / 1e9,
                tz=_dt.timezone.utc)
            kwargs = {"ShardIteratorType": "AT_TIMESTAMP", "Timestamp": ts}
        else:
            kwargs = {"ShardIteratorType": self.start_position}
        out = self.client.get_shard_iterator(
            StreamName=self.stream_name, ShardId=self.shard_id, **kwargs)
        self.next_iterator = out["ShardIterator"]

    def _wait(self, min_interval: float) -> None:
        """Rate limit: >= min_interval between polls (stream.go:63-75)."""
        elapsed = self._now() - self._last_request
        if elapsed < min_interval:
            self._sleep(min_interval - elapsed)
        self._last_request = self._now()

    def fetch(self, limit: int = REQUEST_LIMIT,
              min_interval: float = MIN_POLL_INTERVAL) -> list[dict]:
        """One GetRecords poll with the reference's retry policy:
        quadratic backoff retries^2 * 250 ms, <= MAX_RETRIES attempts on
        throttle/5xx codes (stream.go:87-111), then RetryExhausted."""
        self._wait(min_interval)
        if self.next_iterator is None:
            self._init_iterator()
        while True:
            try:
                out = self.client.get_records(
                    ShardIterator=self.next_iterator, Limit=limit)
                break
            except Exception as exc:  # noqa: BLE001 — classified below
                code = _error_code(exc)
                if code not in RETRY_ERROR_CODES:
                    raise
                self.retries += 1
                if self.retries > MAX_RETRIES:
                    raise RetryExhausted(
                        f"{code}: max {MAX_RETRIES} retries") from exc
                self._sleep(self.retries * self.retries * 0.25)
        self.retries = 0
        self.next_iterator = out.get("NextShardIterator")
        records = out.get("Records", [])
        if records:
            self.last_sequence_number = records[-1]["SequenceNumber"]
        return records


class KinesisSimpleStreamReader:
    """SimpleDataSourceStreamReader body (driver-side poll loop).

    Kept importable without pyspark.datasource subclassing so unit
    tests drive it directly, mirroring how the reference tests
    construct ShardStreamReader with a mock service
    (triton/stream_test.go:13-48).
    """

    def __init__(self, client, stream_name: str,
                 start_position: str = "TRIM_HORIZON",
                 polls_per_batch: int = 1,
                 min_interval: float = MIN_POLL_INTERVAL):
        if start_position not in ("TRIM_HORIZON", "LATEST"):
            raise ValueError(f"bad start_position {start_position!r}")
        self.client = client
        self.stream_name = stream_name
        self.start_position = start_position
        self.polls_per_batch = polls_per_batch
        self.min_interval = min_interval
        self._pollers: dict[str, ShardPoller] = {}

    def _poller(self, shard: str, last_seq: str | None,
                first_seen: bool = False,
                start_ns: int | None = None) -> ShardPoller:
        # A shard DISCOVERED mid-stream (resharding child) always
        # starts TRIM_HORIZON: LATEST means "skip the stream's backlog
        # at first start", not "skip whatever landed in each new shard
        # before its first poll" — a LATEST iterator there silently
        # drops the records written between shard creation and
        # discovery (KCL reads children from horizon for this reason).
        if first_seen:
            position = "TRIM_HORIZON"
        elif self.start_position == "LATEST" and start_ns is not None:
            # LATEST is pinned to the FIRST-start instant (the
            # __start_ns__ offset entry): a shard that has committed
            # no sequence yet resumes AT_TIMESTAMP(first start), not
            # at a fresh LATEST iterator — a restart would otherwise
            # silently skip every record that arrived since first
            # start (found by the resharding fuzz). Mirrors the file
            # source's first-start snapshot (stream_source.py).
            position = "AT_TIMESTAMP"
        else:
            position = self.start_position
        p = self._pollers.get(shard)
        if p is None or (last_seq or None) != p.last_sequence_number:
            p = ShardPoller(self.client, self.stream_name, shard,
                            start_position=position,
                            start_timestamp_ns=start_ns,
                            last_sequence_number=last_seq or None)
            self._pollers[shard] = p
        return p

    def initialOffset(self) -> dict:
        # {shard: last consumed sequence number}; "" = none yet.
        # LATEST additionally pins the backlog boundary as a reserved
        # __start_ns__ entry so the boundary survives restarts (the
        # committed shape stays (shard)->seq, reference checkpoint
        # parity, plus one bookkeeping key).
        out = {s: "" for s in list_shards(self.client, self.stream_name)}
        if self.start_position == "LATEST":
            out[START_NS_KEY] = str(time.time_ns())
        return out

    def read(self, start: dict) -> tuple[list[tuple], dict]:
        """One micro-batch: poll every shard (new shards discovered
        here start from scratch, like child shards after resharding)."""
        end = dict(start)
        rows: list[tuple] = []
        start_ns = int(start[START_NS_KEY]) if START_NS_KEY in start else None
        for shard in list_shards(self.client, self.stream_name):
            poller = self._poller(shard, start.get(shard, ""),
                                  first_seen=shard not in start,
                                  start_ns=start_ns)
            for _ in range(self.polls_per_batch):
                for rec in poller.fetch(min_interval=self.min_interval):
                    rows.append((shard, rec["SequenceNumber"],
                                 rec.get("PartitionKey"),
                                 rec.get("ApproximateArrivalTimestamp"),
                                 rec["Data"]))
            if poller.last_sequence_number:
                end[shard] = poller.last_sequence_number
            elif shard in start:
                end[shard] = start[shard]
            # else: a discovered-but-still-empty child shard stays OUT
            # of the offset map. Recording "" would make a FRESH reader
            # (restart from checkpoint) treat it as known and hand it a
            # LATEST iterator, dropping whatever lands in it before the
            # next poll; absent, it is re-discovered as first_seen and
            # reads TRIM_HORIZON.
        return rows, end

    def readBetweenOffsets(self, start: dict, end: dict) -> list[tuple]:
        """Replay for recovery: re-poll from ``start`` until each
        shard reaches its committed end sequence number."""
        rows: list[tuple] = []
        start_ns = (int(start.get(START_NS_KEY) or end.get(START_NS_KEY, 0))
                    or None)
        for shard, end_seq in end.items():
            if shard == START_NS_KEY:
                continue
            if not end_seq or end_seq == start.get(shard, ""):
                continue
            # A shard with NO start sequence replays from the same
            # position read() would have used: the pinned first-start
            # timestamp under LATEST (replaying from TRIM_HORIZON
            # would include pre-start records up to end_seq that the
            # crashed batch never delivered), else TRIM_HORIZON
            # (mid-stream resharding child first committed in the
            # crashed batch — a LATEST iterator would open past the
            # committed range and return none of its records).
            if start.get(shard):
                position, ns = self.start_position, None
            elif self.start_position == "LATEST" and start_ns:
                position, ns = "AT_TIMESTAMP", start_ns
            else:
                position, ns = "TRIM_HORIZON", None
            poller = ShardPoller(self.client, self.stream_name, shard,
                                 start_position=position,
                                 start_timestamp_ns=ns,
                                 last_sequence_number=start.get(shard) or None)
            while True:
                recs = poller.fetch(min_interval=0.0)
                if not recs:
                    break
                done = False
                for rec in recs:
                    # STOP at the committed end: a multi-record fetch
                    # can overshoot end_seq, and replaying records past
                    # the checkpoint double-delivers them (they arrive
                    # again in the next live batch) — found by the
                    # resharding fuzz (test_kinesis_boto3.py)
                    if _seq_ge(rec["SequenceNumber"], end_seq):
                        # numeric-aware boundary test: string != would
                        # treat a numerically-equal but differently-
                        # formatted sequence (leading zeros) as
                        # overshoot and DROP the final committed record
                        done = not _seq_ge(end_seq, rec["SequenceNumber"])
                        if done:
                            break
                    rows.append((shard, rec["SequenceNumber"],
                                 rec.get("PartitionKey"),
                                 rec.get("ApproximateArrivalTimestamp"),
                                 rec["Data"]))
                if done or _seq_ge(poller.last_sequence_number, end_seq):
                    break
        return rows


def demo_client():
    """In-package scripted Kinesis service (S22 test double — the
    reference ships its mocks in-package too, triton/test_util.go).
    Two shards, three records each; iterator format "stream:shard:seq"
    exactly like testKinesisService (test_util.go:85-94). Used by the
    end-to-end streaming test via client_factory."""

    class _Demo:
        def __init__(self):
            self.shards = {
                "shard-0000": [(f"a{i}", f"A{i}".encode()) for i in range(3)],
                "shard-0001": [(f"b{i}", f"B{i}".encode()) for i in range(3)],
            }

        def describe_stream(self, StreamName):
            return {"StreamDescription": {
                "Shards": [{"ShardId": s} for s in self.shards],
                "StreamName": StreamName, "StreamStatus": "ACTIVE"}}

        def get_shard_iterator(self, StreamName, ShardId, ShardIteratorType,
                               StartingSequenceNumber=None):
            pos = (StartingSequenceNumber
                   if ShardIteratorType == "AFTER_SEQUENCE_NUMBER" else
                   self.shards[ShardId][-1][0]
                   if ShardIteratorType == "LATEST" and self.shards[ShardId]
                   else "")
            return {"ShardIterator": f"{StreamName}:{ShardId}:{pos}"}

        def get_records(self, ShardIterator, Limit):
            _, shard, seq = ShardIterator.split(":")
            for sn, data in self.shards[shard]:
                if sn > seq:
                    return {"NextShardIterator": ShardIterator.rsplit(
                                ":", 1)[0] + f":{sn}",
                            "Records": [{"SequenceNumber": sn, "Data": data,
                                         "PartitionKey": "pk"}],
                            "MillisBehindLatest": 0}
            return {"NextShardIterator": ShardIterator, "Records": [],
                    "MillisBehindLatest": 0}

    return _Demo()


def demo_client_msgpack():
    """Scripted service whose payloads are msgpack-encoded event maps —
    drives the FULL reference path in tests: Kinesis poll -> msgpack
    decode -> partitioned archive -> replay (store -> cat)."""
    import datetime as _dt

    from go_triton_spark.codec.msgpack_codec import packb

    client = demo_client()
    ts = _dt.datetime(2026, 8, 13, 12, 0, 0, tzinfo=_dt.timezone.utc)
    n = 0
    for shard, recs in sorted(client.shards.items()):
        out = []
        for sn, _ in recs:
            out.append((sn, packb({
                "event_id": n, "user_id": n % 3,
                "event_type": "click" if n % 2 else "view",
                "ts": ts, "amount": float(n),
                "session_id": f"s{n % 2}", "props": {"k": str(n)}})))
            n += 1
        client.shards[shard] = out
    # one corrupt payload: must be skipped, not kill the stream (S5)
    client.shards["shard-0000"].append(("a9", b"\xc1 not msgpack"))
    return client


def register_kinesis_source(spark) -> None:
    """Register ``format("kinesis")`` (PySpark 4 Python DataSource).

    Options: ``stream_name`` (required), ``region``, ``endpoint_url``,
    ``start_position`` (TRIM_HORIZON | LATEST), ``client_factory``
    (``module:callable`` import path returning a Kinesis client — the
    test seam; defaults to the boto3 factory above).
    """
    from pyspark.sql.datasource import (DataSource,
                                        SimpleDataSourceStreamReader)

    class _Reader(SimpleDataSourceStreamReader):
        def __init__(self, options):
            factory_path = options.get(
                "client_factory",
                "go_triton_spark.sources.kinesis_boto3:default_client")
            mod_name, _, fn_name = factory_path.partition(":")
            import importlib

            factory = getattr(importlib.import_module(mod_name), fn_name)
            client = (factory(options.get("region"),
                              options.get("endpoint_url"))
                      if factory is default_client else factory())
            self.body = KinesisSimpleStreamReader(
                client, options["stream_name"],
                start_position=options.get(
                    "start_position", "TRIM_HORIZON").upper(),
                polls_per_batch=int(options.get("polls_per_batch", "1")),
                min_interval=float(options.get(
                    "min_poll_interval", str(MIN_POLL_INTERVAL))))

        def initialOffset(self):
            return self.body.initialOffset()

        def read(self, start):
            rows, end = self.body.read(start)
            return iter(rows), end  # Spark requires an iterator, not a list

        def readBetweenOffsets(self, start, end):
            return iter(self.body.readBetweenOffsets(start, end))

    class KinesisDataSource(DataSource):
        @classmethod
        def name(cls):
            return "kinesis"

        def schema(self):
            return KINESIS_SCHEMA

        def simpleStreamReader(self, schema):
            return _Reader(self.options)

    spark.dataSource.register(KinesisDataSource)
