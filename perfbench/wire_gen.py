"""Wire generator: pushes seeded event records into a tritond daemon.

Runs as its own process (its CPU is not the system's) and uses only
``ZmqClient``: one thread per connection, each thread its own client,
fire-and-forget like the reference producer. Closed loop: a thread
sends its next record as soon as the socket accepted the last one.

    python3 perfbench/wire_gen.py --endpoint tcp://127.0.0.1:PORT \
        --records N --conns C --seed S --first-id K

Prints one JSON line: records sent, first/last put wall times, summed
time inside ``put``, and this process's CPU seconds.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STREAM = "events"
EVENT_TYPES = ("view", "click", "add_to_cart", "purchase", "search")


def send(endpoint: str, ids: range, seed: int, out: dict) -> None:
    from go_triton_spark.tritond import ZmqClient

    rng = random.Random(seed)
    client = ZmqClient(endpoint, num_idle_conn=1)
    utc = dt.timezone.utc
    put_s = 0.0
    first = time.time()
    try:
        for eid in ids:
            rec = {"event_id": eid, "ts": dt.datetime.now(utc),
                   "user_id": rng.randrange(100_000),
                   "event_type": rng.choice(EVENT_TYPES),
                   "value": round(rng.uniform(0, 500), 2),
                   "props": json.dumps({"page": rng.randrange(50)})}
            t0 = time.perf_counter()
            client.put(STREAM, str(rec["user_id"]), rec)
            put_s += time.perf_counter() - t0
    finally:
        client.close()
    out.update(sent=len(ids), first=first, last=time.time(), put_s=put_s)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--endpoint", required=True)
    ap.add_argument("--records", type=int, required=True)
    ap.add_argument("--conns", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first-id", type=int, default=0)
    args = ap.parse_args()
    conns = max(1, min(args.conns, os.cpu_count() or 1))
    step = -(-args.records // conns)
    results = [{} for _ in range(conns)]
    threads = []
    for c in range(conns):
        lo = args.first_id + c * step
        hi = min(args.first_id + args.records, lo + step)
        threads.append(threading.Thread(
            target=send, args=(args.endpoint, range(lo, hi),
                               args.seed * 1000 + c, results[c])))
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if any(not r for r in results):
        print("wire_gen: a sender thread failed", file=sys.stderr)
        return 1
    cpu = os.times()
    print(json.dumps({
        "sent": sum(r["sent"] for r in results),
        "first": min(r["first"] for r in results),
        "last": max(r["last"] for r in results),
        "put_s": sum(r["put_s"] for r in results),
        "cpu_s": cpu.user + cpu.system}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
