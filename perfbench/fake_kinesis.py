"""Benchmark-owned Kinesis service, reached through the ``kinesis``
source's ``client_factory`` option (``fake_kinesis:client``).

The source instantiates the client inside Spark's Python source worker,
so everything it needs comes from files the benchmark wrote under
``$PERFBENCH_WORK/kinesis``: ``conf.json`` (shards, schedule) and one
payload file per shard (``<shard>.bin``, 4-byte big-endian length
prefix per msgpack payload).

The first ``backlog`` records of a shard are already due when the
store starts at ``t0`` (a store resuming after downtime); live record
``j`` is due at ``live_t0 + j / rate``, released open-loop on the wall
clock whatever the store does. GetRecords costs O(Limit): each
iterator is a (shard, next index) pair and a call slices the shard's
list. Counters go to ``counters-<pid>.json`` after every call.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import struct
import time

KINESIS_DIR = "kinesis"


def write_shard_payloads(path: str, payloads: list[bytes]) -> None:
    with open(path, "wb") as f:
        for p in payloads:
            f.write(struct.pack(">I", len(p)))
            f.write(p)


def read_shard_payloads(path: str) -> list[bytes]:
    with open(path, "rb") as f:
        buf = f.read()
    out, pos = [], 0
    while pos < len(buf):
        (n,) = struct.unpack_from(">I", buf, pos)
        out.append(buf[pos + 4:pos + 4 + n])
        pos += 4 + n
    return out


def due_time(conf: dict, i: int) -> float:
    """Release time of record ``i``; the backlog was released before
    ``t0`` at the live rate."""
    j = i - conf["backlog"]
    return (conf["t0"] if j < 0 else conf["live_t0"]) + j / conf["rate"]


def released(conf: dict, now: float) -> int:
    """Records per shard due at ``now``."""
    if now < conf["live_t0"]:
        return conf["backlog"]
    n = conf["backlog"] + math.floor((now - conf["live_t0"]) * conf["rate"]) + 1
    return min(n, conf["per_shard"])


class FakeKinesis:
    def __init__(self, root: str):
        self.root = root
        with open(os.path.join(root, "conf.json"), encoding="utf-8") as f:
            self.conf = json.load(f)
        self.shards = {s: read_shard_payloads(os.path.join(root, f"{s}.bin"))
                       for s in self.conf["shards"]}
        utc = dt.timezone.utc
        self.arrival = [dt.datetime.fromtimestamp(due_time(self.conf, i), utc)
                        for i in range(self.conf["per_shard"])]
        self.calls = 0
        self.served = 0
        self.busy_s = 0.0
        self._counters = os.path.join(root, f"counters-{os.getpid()}.json")

    def describe_stream(self, StreamName):
        return {"StreamDescription": {
            "StreamName": StreamName, "StreamStatus": "ACTIVE",
            "Shards": [{"ShardId": s} for s in self.conf["shards"]]}}

    def get_shard_iterator(self, StreamName, ShardId, ShardIteratorType,
                           StartingSequenceNumber=None):
        """TRIM_HORIZON (the store's start position) and
        AFTER_SEQUENCE_NUMBER (its resume position) only."""
        if ShardIteratorType == "AFTER_SEQUENCE_NUMBER":
            pos = int(StartingSequenceNumber) + 1
        elif ShardIteratorType == "TRIM_HORIZON":
            pos = 0
        else:
            raise ValueError(f"unsupported iterator type {ShardIteratorType}")
        return {"ShardIterator": f"{ShardId}|{pos}"}

    def get_records(self, ShardIterator, Limit):
        t_in = time.perf_counter()
        shard, _, pos = ShardIterator.rpartition("|")
        pos = int(pos)
        avail = released(self.conf, time.time())
        end = max(pos, min(pos + Limit, avail))
        payloads = self.shards[shard]
        recs = [{"SequenceNumber": str(i), "Data": payloads[i],
                 "PartitionKey": shard,
                 "ApproximateArrivalTimestamp": self.arrival[i]}
                for i in range(pos, end)]
        out = {"NextShardIterator": f"{shard}|{end}", "Records": recs,
               "MillisBehindLatest": 0}
        self.calls += 1
        self.served += len(recs)
        self.busy_s += time.perf_counter() - t_in
        tmp = self._counters + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump({"calls": self.calls, "served": self.served,
                       "busy_ms": self.busy_s * 1000.0}, f)
        os.replace(tmp, self._counters)
        return out


def client():
    """The ``client_factory`` target."""
    return FakeKinesis(os.path.join(os.environ["PERFBENCH_WORK"], KINESIS_DIR))



def read_counters(root: str) -> dict:
    out = {"calls": 0, "served": 0, "busy_ms": 0.0}
    for name in os.listdir(root):
        if name.startswith("counters-") and name.endswith(".json"):
            with open(os.path.join(root, name), encoding="utf-8") as f:
                c = json.load(f)
            for k in out:
                out[k] += c[k]
    return out
