"""archive_replay: the consumer and maintenance side of the archive.

Set-up builds a multi-day archive through ``ArchiveStore.ingest_dataframe``
with fixed past processing times. One client then replays in a closed
loop, alternating a 1-day ordered ``cat`` into the noop sink with a
7-day unordered ``cat`` plus a per-day x event_type aggregation. The
run ends with ``compact`` of three days, one at a time.
"""

from __future__ import annotations

import datetime as dt
import time
from concurrent.futures import ThreadPoolExecutor

from harness import BenchFailure, median

SIZES = {
    # days, processing hours per day, part files per hour, rows per hour
    "default": {"days": 10, "hours": 3, "parts": 3, "rows": 33_600},
    "smoke": {"days": 8, "hours": 2, "parts": 2, "rows": 200},
}
FIRST_DAY = dt.date(2025, 3, 1)
EVENT_TYPES = ("view", "click", "add_to_cart", "purchase", "search")
STREAM, CLIENT = "events", "bench"
# replay cycles per second of --seconds (a cycle takes ~2 s on the
# reference host); medians over that many cycles ride out the host's
# sub-second speed swings
CYCLES_PER_S = 1.0


def _hour_df(spark, seed: int, first_id: int, rows: int, parts: int,
             when: dt.datetime):
    """Seeded event rows ``first_id .. first_id+rows-1``, EVENTS_SCHEMA."""
    import pyspark.sql.functions as F

    h = F.xxhash64(F.col("id"), F.lit(seed))
    types = F.array(*[F.lit(t) for t in EVENT_TYPES])
    return (spark.range(first_id, first_id + rows, numPartitions=parts)
            .select(F.col("id").alias("event_id"),
                    F.timestamp_seconds(F.lit(int(when.timestamp()))
                                        - F.pmod(h, 3600)).alias("ts"),
                    F.pmod(h, 100_000).alias("user_id"),
                    F.element_at(types, (F.pmod(F.shiftright(h, 20), 5) + 1)
                                 .cast("int")).alias("event_type"),
                    (F.pmod(F.shiftright(h, 8), 50_000) / 100.0).alias("value"),
                    F.concat(F.lit('{"page": '), F.pmod(F.shiftright(h, 32), 50)
                             .cast("string"), F.lit("}")).alias("props")))


def build_archive(r, eng, size: dict) -> None:
    """One ingest_dataframe call per (day, hour); four at a time."""
    slots = [(d, h) for d in range(size["days"]) for h in range(size["hours"])]

    def ingest(slot):
        d, h = slot
        day = FIRST_DAY + dt.timedelta(days=d)
        when = dt.datetime(day.year, day.month, day.day, 2 + 5 * h,
                           tzinfo=dt.timezone.utc)
        first = (d * size["hours"] + h) * size["rows"]
        df = _hour_df(eng.spark, r.seed, first, size["rows"], size["parts"], when)
        eng.archive.ingest_dataframe(df, STREAM, CLIENT, when=when)

    with r.tracer.span("plans.archive_store.ingest"):
        with ThreadPoolExecutor(max_workers=4) as pool:
            for f in [pool.submit(ingest, s) for s in slots]:
                f.result()


def _timed_cat(r, eng, start: dt.date, end: dt.date, ordered: bool, act,
               plan_s: list, exec_s: list):
    with r.tracer.span("plans.archive_store.cat_plan"):
        t0 = time.perf_counter()
        df = eng.cat(STREAM, start, end, client=CLIENT, ordered=ordered)
        t1 = time.perf_counter()
    with r.tracer.span("plans.archive_store.cat_exec"):
        out = act(df)
        t2 = time.perf_counter()
    plan_s.append(t1 - t0)
    exec_s.append(t2 - t1)
    return df, out, t2 - t0


def run(r) -> None:
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    size = SIZES[r.size]
    eng, _ = r.engine()
    build_archive(r, eng, size)
    per_day = size["hours"] * size["rows"]
    if r.traced:
        r.archive_stats(eng.archive.root)
    r.setup_done()

    def day_act(df):
        obs = Observation()
        (df.observe(obs, F.count(F.lit(1)).alias("rows"))
         .write.format("noop").mode("overwrite").save())
        return obs.get["rows"]

    def week_act(df):
        # cat projects the partition columns away; the processing
        # day is the date of _archive_sort
        day = F.to_date(F.timestamp_seconds("_archive_sort")).alias("day")
        return (df.groupBy(day, "event_type")
                .agg(F.count(F.lit(1)).alias("n")).collect())

    # the days compacted at the end, as an ordered replay reads them now
    mid = size["days"] // 2
    compact_days = [FIRST_DAY + dt.timedelta(days=d)
                    for d in (mid - 1, mid, mid + 1)]

    def ordered_day(day):
        return [tuple(row) for row in
                eng.cat(STREAM, day, client=CLIENT, ordered=True)
                .select("_archive_sort", "event_id").collect()]

    before = {day: ordered_day(day) for day in compact_days}

    cpu0 = r.cpu.read()
    day_s, week_s, plan_s, exec_s = [], [], [], []
    cat_files, cat_rows = 0, 0
    for cycle in range(max(2, round(r.seconds * CYCLES_PER_S))):
        day = FIRST_DAY + dt.timedelta(days=cycle % size["days"])
        _, n_rows, s = _timed_cat(r, eng, day, day, True, day_act,
                                  plan_s, exec_s)
        day_s.append(s)
        r.check(n_rows == per_day,
                f"1-day cat of {day} returned {n_rows} rows, expected {per_day}")
        w0 = FIRST_DAY + dt.timedelta(days=cycle % (size["days"] - 6))
        df, groups, s = _timed_cat(r, eng, w0, w0 + dt.timedelta(days=6),
                                   False, week_act, plan_s, exec_s)
        week_s.append(s)
        by_day = {}
        for g in groups:
            by_day[g["day"]] = by_day.get(g["day"], 0) + g["n"]
        r.check(len(by_day) == 7 and all(v == per_day for v in by_day.values()),
                f"7-day cat from {w0} grouped to {by_day}")
        if r.traced:
            cat_files += len(df.inputFiles())
            cat_rows += n_rows + sum(by_day.values())

    compact_s, stats = [], []
    for day in compact_days:
        with r.tracer.span("plans.archive_store.compact"):
            t0 = time.perf_counter()
            stats.append(eng.archive.compact(STREAM, day, CLIENT))
            compact_s.append(time.perf_counter() - t0)
    cpu1 = r.cpu.read()
    for day, st in zip(compact_days, stats):
        keys = [k for k, _ in before[day]]
        r.check(len(keys) == per_day and keys == sorted(keys),
                f"ordered replay of {day} is not non-decreasing "
                "in _archive_sort")
        after = ordered_day(day)
        r.check([k for k, _ in after] == keys and set(after) == set(before[day]),
                f"compact changed the rows or their order on {day}")
        if st["files_after"] >= st["files_before"] or st["hours"] == 0:
            raise BenchFailure(f"compact of {day} rewrote nothing: {st}")

    r.put("work_s", median(day_s) + median(week_s) + median(compact_s), "s")
    r.put("cpu_s", cpu1 - cpu0, "s")
    r.put("latency_ms", median(day_s) * 1000.0, "ms")
    r.put("replay_day_s", median(day_s), "s")
    r.put("replay_week_s", median(week_s), "s")
    r.put("compact_day_s", median(compact_s), "s")
    if r.traced:
        r.put("plans.archive_store.cat_plan_s", sum(plan_s), "s")
        r.put("plans.archive_store.cat_exec_s", sum(exec_s), "s")
        r.put("plans.archive_store.cat_files", cat_files, "count")
        r.put("plans.archive_store.cat_rows", cat_rows, "count")
        r.put("plans.archive_store.compact_files_in",
              sum(st["files_before"] for st in stats), "count")
        r.put("plans.archive_store.compact_files_out",
              sum(st["files_after"] for st in stats), "count")
        r.put("plans.archive_store.compact_bytes",
              sum(st["bytes"] for st in stats), "B")
