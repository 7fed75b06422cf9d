"""wire_ingest: wire generator -> tritond daemon -> file-source store.

A separate generator process pushes N records through ``ZmqClient``
connections into a ``TritondDaemon`` as fast as the sockets accept
them; a continuous ``eng.store`` archives the daemon's batch files.
The store is started and warmed in set-up, so the measured phase is
the wire path at full load.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time

from harness import (PERF_DIR, BenchFailure, commit_time, percentile,
                     store_metrics, wait_for)

SIZES = {
    # records per second of --seconds, warm-up records, connections (one:
    # with four, the daemon's per-connection threads contend for one
    # interpreter lock, it lands ~15k instead of ~18k rec/s and the
    # run-to-run spread doubles)
    "default": {"rate": 25_000, "warm": 2_000, "conns": 1},
    "smoke": {"rate": 500, "warm": 50, "conns": 2},
}
DAEMON_BATCH = 5_000        # records per daemon batch file
DAEMON_FLUSH_S = 0.25       # daemon flush interval


def _stream_yaml(path: str) -> str:
    return ("events:\n  name: events\n  partition_key: user_id\n"
            f"  source: file\n  format: json\n  path: {path}\n")


def _source_batches(checkpoint: str) -> dict[str, int]:
    """Input file basename -> micro-batch id, from the file source log
    (plain ``<batch>`` entries and the periodic ``<batch>.compact``)."""
    out = {}
    log = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log):
        if not name.removesuffix(".compact").isdigit():
            continue
        with open(os.path.join(log, name), encoding="utf-8") as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = entry["batchId"]
    return out


def run(r) -> None:
    import pyspark.sql.functions as F

    from go_triton_spark.tritond import TritondDaemon, ZmqClient
    from go_triton_spark.types import EVENTS_SCHEMA

    size = SIZES[r.size]
    n = size["rate"] * max(1, r.seconds)
    warm = size["warm"]
    incoming = os.path.join(r.work, "incoming")
    os.makedirs(os.path.join(incoming, "events"))
    eng, listener = r.engine(_stream_yaml(os.path.join(incoming, "events")))
    daemon = TritondDaemon(incoming, batch_size=DAEMON_BATCH,
                           flush_interval=DAEMON_FLUSH_S)
    gen = pipe = None
    try:
        with r.tracer.span("streaming.store.start"):
            t0 = time.perf_counter()
            pipe = eng.store("events", schema=EVENTS_SCHEMA, trigger_seconds=1.0)
            r.put("streaming.store.start_s", time.perf_counter() - t0, "s")

        def committed() -> int:
            return sum(e["rows"] for e in listener.snapshot())

        # warm the daemon and the store's first (cold) micro-batch
        client = ZmqClient(daemon.endpoint)
        for i in range(warm):
            client.put("events", str(i), {
                "event_id": i, "ts": dt.datetime.now(dt.timezone.utc),
                "user_id": i, "event_type": "view", "value": 0.0,
                "props": "{}"})
        client.close()
        wait_for(lambda: committed() >= warm, timeout=120,
                 what="the warm-up records to be archived")
        warm_batches = len(listener.snapshot())
        r.setup_done()

        cpu0 = r.cpu.read()
        with r.tracer.span("tritond.run"):
            gen = subprocess.Popen(
                [sys.executable, os.path.join(PERF_DIR, "wire_gen.py"),
                 "--endpoint", daemon.endpoint, "--records", str(n),
                 "--conns", str(size["conns"]), "--seed", str(r.seed),
                 "--first-id", str(warm)],
                stdout=subprocess.PIPE, text=True)
            r.cpu.exclude.add(gen.pid)
            landed_at = []

            def done() -> bool:
                if not landed_at and daemon.flushed >= warm + n:
                    landed_at.append(time.time())
                return committed() >= warm + n or gen.poll() not in (None, 0)

            wait_for(done, timeout=max(60, r.seconds * 10), poll=0.02,
                     what="the store to archive every sent record")
            cpu1 = r.cpu.read()
            out, _ = gen.communicate(timeout=60)
        if gen.returncode != 0:
            raise BenchFailure(f"wire generator exited {gen.returncode}")
        sent = json.loads(out.strip().splitlines()[-1])
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        daemon.stop()
        if pipe is not None:
            pipe.stop()

    events = sorted(listener.snapshot(), key=lambda e: e["batch"])
    rows, final = 0, None
    for ev in events:
        rows += ev["rows"]
        if rows >= warm + n:
            final = ev
            break
    wire_s = commit_time(final) - sent["first"]

    # exactly-once: the archived event_id set is the sent set
    arch = (eng.spark.read.option("basePath", eng.archive.root)
            .parquet(os.path.join(eng.archive.root, "stream=events")))
    ids = [row[0] for row in arch.select("event_id").collect()]
    total = warm + n
    r.check(sent["sent"] == n and len(ids) == total
            and set(ids) == set(range(total)),
            f"wire_ingest sent {sent['sent']}/{n}, archived {len(ids)} rows "
            f"({len(set(ids))} distinct), expected {total} distinct")

    # creation -> commit latency per record, through the file each
    # record travelled in and the micro-batch that read that file
    batch_of = _source_batches(os.path.join(
        eng.checkpoint_root, "events-bench"))
    commit_of = {ev["batch"]: commit_time(ev) for ev in events}
    pdf = (eng.spark.read.schema(EVENTS_SCHEMA)
           .json(os.path.join(incoming, "events"))
           .where(F.col("event_id") >= warm)
           .select(F.unix_micros("ts").alias("us"),
                   F.input_file_name().alias("f"))
           .toPandas())
    commit = pdf["f"].map(lambda f: commit_of[batch_of[os.path.basename(f)]])
    lat = ((commit - pdf["us"] / 1e6) * 1000.0).tolist()

    r.put("work_s", wire_s, "s")
    r.put("cpu_s", cpu1 - cpu0, "s")
    r.put("latency_ms", percentile(lat, 50), "ms")
    r.put("wire_rps", n / wire_s, "rec/s")
    r.put("freshness_p50_ms", percentile(lat, 50), "ms")
    r.put("freshness_p99_ms", percentile(lat, 99), "ms")
    if r.traced:
        r.dump_progress(events)
        r.put_many(store_metrics(events[warm_batches:]))
        r.put("tritond.send_s", sent["put_s"], "s")
        r.put("tritond.land_s", (landed_at[0] if landed_at else time.time())
              - sent["first"], "s")
        r.put("tritond.files", len(batch_of), "count")
        r.put("wire_gen.cpu_s", sent["cpu_s"], "s")
        r.archive_stats(eng.archive.root)
