"""query_mix: a fixed basket of registry queries over seeded tables.

Set-up writes the tables, then runs every basket query once against
its DuckDB oracle (the check, which also warms the JVM and the Python
workers). The measured phase runs warm passes of the basket into the
noop sink, at least one and as many as fit in ``--seconds``.
"""

from __future__ import annotations

import os
import time

from harness import median

BASKET = (
    "q1_pricing_summary", "q5_nation_revenue", "q18_large_orders",
    "q21_waiting_supplier", "dedup_minhash_lsh", "curate_canonical_docs",
    "knn_graph_lsh", "semdedup_prune", "emb_label_knn_purity",
    "mm_jpeg_decode", "mm_png_decode", "text_gopher_filters",
)
SIZES = {"default": {"sf": 0.01}, "smoke": {"sf": 0.001}}


def check_against_oracle(r, sf_dir: str, basket) -> None:
    import duckdb

    from go_triton_spark.operators import REGISTRY
    from tools.check_correctness import compare, normalize

    con = duckdb.connect()
    try:
        for name in os.listdir(sf_dir):
            if name.endswith(".parquet"):
                path = os.path.join(sf_dir, name)
                con.sql(f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{path}'")
        for q in basket:
            qd = REGISTRY[q]
            problems: list[str] = []
            try:
                got = qd.spark(r.spark, sf_dir).toPandas()
                want = con.sql(qd.oracle).df()
            except Exception as exc:  # noqa: BLE001 — a raise is a failure
                problems.append(f"raised {type(exc).__name__}: {exc}")
            else:
                compare(q, normalize(got, "spark", problems),
                        normalize(want, "oracle", problems), problems)
            r.check(not problems, f"{q} vs oracle: {problems[:2]}")
    finally:
        con.close()


def run(r) -> None:
    import tables
    from go_triton_spark.operators import REGISTRY

    sf_dir = os.path.join(r.work, "tables")
    with r.tracer.span("bench.tables"):
        tables.build(sf_dir, SIZES[r.size]["sf"], r.seed)
    check_against_oracle(r, sf_dir, BASKET)
    r.setup_done()

    tracker = r.spark.sparkContext.statusTracker()
    times = {q: [] for q in BASKET}
    cpus = {q: [] for q in BASKET}
    groups = {q: [] for q in BASKET}
    cpu0 = r.cpu.read()
    deadline = time.perf_counter() + r.seconds
    passes = 0
    while passes == 0 or time.perf_counter() < deadline:
        for q in BASKET:
            if r.traced:
                group = f"perfbench-{q}-{passes}"
                r.spark.sparkContext.setJobGroup(group, q)
                groups[q].append(group)
                c0 = r.cpu.read()
            with r.tracer.span(f"operators.{q}"):
                t0 = time.perf_counter()
                (REGISTRY[q].spark(r.spark, sf_dir)
                 .write.format("noop").mode("overwrite").save())
                times[q].append(time.perf_counter() - t0)
            if r.traced:
                cpus[q].append(r.cpu.read() - c0)
        passes += 1
    cpu1 = r.cpu.read()

    medians = {q: median(v) for q, v in times.items()}
    r.put("work_s", sum(medians.values()), "s")
    r.put("cpu_s", (cpu1 - cpu0) / passes, "s")
    r.put("latency_ms", median(list(medians.values())) * 1000.0, "ms")
    r.put("query_mix_s", sum(medians.values()), "s")
    if r.traced:
        r.spark.sparkContext.setJobGroup("perfbench-idle", "")
        for q in BASKET:
            jobs = [j for g in groups[q] for j in tracker.getJobIdsForGroup(g)]
            stages = [s for j in jobs for s in
                      (tracker.getJobInfo(j).stageIds if tracker.getJobInfo(j)
                       else [])]
            tasks = sum(tracker.getStageInfo(s).numTasks for s in stages
                        if tracker.getStageInfo(s))
            r.put(f"operators.{q}.s", medians[q], "s")
            r.put(f"operators.{q}.cpu_s", median(cpus[q]), "s")
            r.put(f"operators.{q}.jobs", len(jobs) / passes, "count")
            r.put(f"operators.{q}.stages", len(stages) / passes, "count")
            r.put(f"operators.{q}.tasks", tasks / passes, "count")
