"""kinesis_tail: fake Kinesis -> msgpack decode -> streaming store.

The store starts against a backlog on every shard and catches up.
From a fixed time after the start, live records are released open-loop
on the wall clock for ``--seconds``. Measured from the ``eng.store``
call until every released record is committed.
"""

from __future__ import annotations

import json
import os
import random
import time

import fake_kinesis
from harness import (BenchFailure, commit_time, decode_payloads, percentile,
                     store_metrics, wait_for)

SIZES = {
    # shards, backlog per shard, live rate per shard (rec/s), seconds
    # from the store start to the first live record (room for the
    # catch-up), warm-up records per shard
    "default": {"shards": 16, "backlog": 3000, "rate": 125, "catchup_s": 16,
                "warm": 500},
    "smoke": {"shards": 2, "backlog": 40, "rate": 20, "catchup_s": 6,
              "warm": 10},
}
EVENT_TYPES = ("view", "click", "add_to_cart", "purchase", "search")
STREAM_YAML = """\
events:
  name: bench
  partition_key: user_id
  source: kinesis
  client_factory: fake_kinesis:client
"""


def make_payloads(conf: dict, seed: int) -> dict[str, list[bytes]]:
    """Seeded msgpack event maps; ``ts`` is each record's due time."""
    import datetime as dt

    from go_triton_spark.codec.msgpack_codec import packb

    rng = random.Random(seed)
    utc = dt.timezone.utc
    out = {}
    for s_idx, shard in enumerate(conf["shards"]):
        recs = []
        for i in range(conf["per_shard"]):
            recs.append(packb({
                "event_id": s_idx * conf["per_shard"] + i,
                "ts": dt.datetime.fromtimestamp(
                    fake_kinesis.due_time(conf, i), utc),
                "user_id": rng.randrange(100_000),
                "event_type": rng.choice(EVENT_TYPES),
                "value": round(rng.uniform(0, 500), 2),
                "props": json.dumps({"page": rng.randrange(50)}),
            }))
        out[shard] = recs
    return out


def write_service(root: str, conf: dict, seed: int) -> dict[str, list[bytes]]:
    os.makedirs(root, exist_ok=True)
    payloads = make_payloads(conf, seed)
    for shard, recs in payloads.items():
        fake_kinesis.write_shard_payloads(os.path.join(root, f"{shard}.bin"),
                                          recs)
    with open(os.path.join(root, "conf.json"), "w", encoding="utf-8") as f:
        json.dump(conf, f)
    return payloads


def run(r) -> None:
    from go_triton_spark.types import EVENTS_SCHEMA

    size = SIZES[r.size]
    shards = [f"shardId-{i:012d}" for i in range(size["shards"])]
    eng, listener = r.engine(STREAM_YAML)

    # warm the decode workers and the parquet writer with a batch job
    # over the same kind of payloads; a warm-up stream is not an option,
    # see README "Defects found"
    now = time.time()
    warm = make_payloads({"shards": shards, "backlog": size["warm"],
                          "rate": 1.0, "per_shard": size["warm"], "t0": now,
                          "live_t0": now}, r.seed + 1)
    decode_payloads(r.spark, [p for recs in warm.values() for p in recs]) \
        .write.partitionBy("event_type").parquet(os.path.join(r.work, "warmup"))

    live = int(size["rate"] * max(1, r.seconds))
    conf = {"shards": shards, "backlog": size["backlog"],
            "rate": float(size["rate"]), "per_shard": size["backlog"] + live}
    # payloads carry their due times, so fix the schedule first
    gen_lead = 0.3 + conf["per_shard"] * len(shards) * 20e-6
    conf["t0"] = time.time() + gen_lead
    conf["live_t0"] = conf["t0"] + size["catchup_s"]
    kdir = os.path.join(r.work, fake_kinesis.KINESIS_DIR)
    payloads = write_service(kdir, conf, r.seed)
    late = time.time() - conf["t0"]
    if late < 0:
        time.sleep(-late)
    r.setup_done()

    n_shards, per_shard = len(shards), conf["per_shard"]
    total = n_shards * per_shard
    backlog_total = n_shards * conf["backlog"]
    cpu0 = r.cpu.read()
    t_store = time.time()
    with r.tracer.span("streaming.store.start"):
        t0 = time.perf_counter()
        pipe = eng.store("events", schema=EVENTS_SCHEMA, trigger_seconds=1.0)
        r.put("streaming.store.start_s", time.perf_counter() - t0, "s")
    query = pipe.query

    def batches() -> list[dict]:
        """The store's batches that advanced an offset, with per-shard
        end offsets and rows read (counted from the offsets: the
        progress event's numInputRows can read 0 for a batch that did
        read records)."""
        out, prev = [], {s: -1 for s in shards}
        for ev in sorted(listener.snapshot(query.name),
                         key=lambda e: e["batch"]):
            offsets = dict(prev)
            offsets.update({k: int(v) for k, v in
                            json.loads(ev["end_offset"] or "{}").items()
                            if k in prev and v != ""})
            if offsets != prev:
                ev["rows"] = sum(offsets[s] - prev[s] for s in shards)
                ev["offsets"] = prev = offsets
                out.append(ev)
        return out

    last = per_shard - 1
    try:
        with r.tracer.span("streaming.store.run"):
            release_end = fake_kinesis.due_time(conf, last)
            wait_for(lambda: query.exception() is not None or any(
                         all(o >= last for o in ev["offsets"].values())
                         for ev in batches()[-1:]),
                     timeout=release_end - time.time() + 120, poll=0.2,
                     what="the store to commit every record")
        cpu1 = r.cpu.read()
        if query.exception() is not None:
            raise BenchFailure(f"store query failed: {query.exception()}")
    finally:
        pipe.stop()
    events = batches()

    # catch-up: the first batch covering the backlog on every shard
    drained = next((ev for ev in events
                    if all(ev["offsets"].get(s, -1) >= conf["backlog"] - 1
                           for s in conf["shards"])), None)
    if drained is None:
        raise BenchFailure("no batch drained the backlog")
    catchup = commit_time(drained) - t_store
    # freshness of every live record: its batch's commit minus its due time
    fresh = []
    for shard in conf["shards"]:
        ev, idx = None, 0
        for i in range(conf["backlog"], per_shard):
            while ev is None or ev["offsets"].get(shard, -1) < i:
                if idx >= len(events):
                    raise BenchFailure(f"record {shard}/{i} never committed")
                ev, idx = events[idx], idx + 1
            fresh.append((commit_time(ev) - fake_kinesis.due_time(conf, i)) * 1000)
    r.put("work_s", catchup, "s")
    r.put("cpu_s", cpu1 - cpu0, "s")
    r.put("latency_ms", percentile(fresh, 50), "ms")
    r.put("catchup_rps", backlog_total / catchup, "rec/s")
    r.put("freshness_p50_ms", percentile(fresh, 50), "ms")
    r.put("freshness_p99_ms", percentile(fresh, 99), "ms")

    # exactly-once: the archived event_id set is the released set
    archived = [row[0] for row in eng.spark.read
                .option("basePath", eng.archive.root)
                .parquet(os.path.join(eng.archive.root, "stream=bench"))
                .select("event_id").collect()]
    r.check(len(archived) == total and set(archived) == set(range(total)),
            f"kinesis_tail archived {len(archived)} rows "
            f"({len(set(archived))} distinct), expected {total} distinct")

    if r.traced:
        r.dump_progress(events)
        r.put_many(store_metrics(events))
        c = fake_kinesis.read_counters(kdir)
        r.put("sources.kinesis.get_records_calls", c["calls"], "count")
        r.put("sources.kinesis.records_served", c["served"], "count")
        r.put("sources.kinesis.get_records_ms", c["busy_ms"], "ms")
        backlog_max, done = 0, 0
        for ev in events:
            due = fake_kinesis.released(conf, commit_time(ev)) * n_shards
            backlog_max = max(backlog_max, due - done)
            done += ev["rows"]
        r.put("sources.kinesis.backlog_max", backlog_max, "count")
        r.measure_msgpack_decode([p for recs in payloads.values() for p in recs])
