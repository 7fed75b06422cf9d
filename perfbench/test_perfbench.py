"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The unit tests are quick. The smoke tests run every workload at its
tiny size through ``perfbench/run.py`` (a Spark session each,
so about a minute apiece).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

import fake_kinesis
from harness import CpuMeter, Tracer, percentile

PERF_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(PERF_DIR)
RUN = [sys.executable, os.path.join("perfbench", "run.py")]


def _spec() -> dict:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


# ------------------------------------------------------------------ units

def test_percentile_nearest_rank():
    values = list(range(1, 101))
    assert percentile(values, 50) == 50
    assert percentile(values, 99) == 99
    assert percentile([7.0], 99) == 7.0


def test_self_time_subtracts_covered_child_time():
    tr = Tracer(True, "t")
    with tr.span("outer.op"):
        time.sleep(0.02)
        with tr.span("inner.a"):
            time.sleep(0.03)
        with tr.span("inner.b"):
            time.sleep(0.03)
    st = tr.self_times()
    outer = tr.spans[0].end - tr.spans[0].start
    assert st["outer"] == pytest.approx(
        outer - sum(s.end - s.start for s in tr.spans[1:]), abs=1e-9)
    assert 0.015 < st["outer"] < outer
    assert tr.spans[1].parent == tr.spans[0].sid


def test_disabled_tracer_records_nothing():
    tr = Tracer(False, "t")
    with tr.span("a.b"):
        pass
    assert tr.spans == [] and tr.self_times() == {}


def test_cpu_meter_excludes_a_busy_child():
    meter = CpuMeter()
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt=time.time()\n"
                              "while time.time()-t<1.0: pass"])
    try:
        meter.exclude.add(child.pid)
        c0 = meter.read()
        time.sleep(0.8)
        c1 = meter.read()
    finally:
        child.wait(timeout=10)
    assert child.returncode == 0
    assert c1 - c0 < 0.3


def test_stop_descendants_ends_orphans_and_sigterm_ignorers():
    """An orphaned grandchild and a tree that ignores SIGTERM both end
    and are reaped (in a child interpreter: adopting orphans is for the
    life of the process)."""
    code = (
        "import os, subprocess, time\n"
        "import harness\n"
        "harness.adopt_orphans()\n"
        "subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 &'])\n"
        "subprocess.Popen(['sh', '-c', \"trap '' TERM; sleep 60 & wait\"])\n"
        "time.sleep(0.5)\n"
        "before = harness._descendants(harness._proc_table(), os.getpid())\n"
        "left = harness.stop_descendants(grace=1.0, limit=10.0)\n"
        "print(len(before), left)\n")
    p = subprocess.run([sys.executable, "-c", code], cwd=PERF_DIR,
                       capture_output=True, text=True, timeout=30)
    assert p.returncode == 0, p.stderr
    n_before, left = p.stdout.split(" ", 1)
    assert int(n_before) == 3 and left.strip() == "[]"


def _fake(tmp_path, monkeypatch, backlog=3, rate=10.0, per_shard=8, t0=None):
    root = tmp_path / fake_kinesis.KINESIS_DIR
    root.mkdir()
    t0 = time.time() + 60 if t0 is None else t0
    conf = {"shards": ["s0", "s1"], "backlog": backlog, "rate": rate,
            "per_shard": per_shard, "t0": t0, "live_t0": t0}
    for s in conf["shards"]:
        fake_kinesis.write_shard_payloads(
            str(root / f"{s}.bin"), [f"{s}-{i}".encode() for i in range(per_shard)])
    (root / "conf.json").write_text(json.dumps(conf))
    monkeypatch.setenv("PERFBENCH_WORK", str(tmp_path))
    return fake_kinesis.client(), conf


def test_fake_kinesis_serves_only_released_records(tmp_path, monkeypatch):
    client, conf = _fake(tmp_path, monkeypatch)
    it = client.get_shard_iterator("x", "s0", "TRIM_HORIZON")["ShardIterator"]
    out = client.get_records(ShardIterator=it, Limit=2)
    assert [r["Data"] for r in out["Records"]] == [b"s0-0", b"s0-1"]
    out = client.get_records(ShardIterator=out["NextShardIterator"], Limit=10)
    # the live records are not due yet: only the backlog is served
    assert [r["SequenceNumber"] for r in out["Records"]] == ["2"]
    out = client.get_records(ShardIterator=out["NextShardIterator"], Limit=10)
    assert out["Records"] == []
    it = client.get_shard_iterator("x", "s1", "AFTER_SEQUENCE_NUMBER",
                                   StartingSequenceNumber="0")["ShardIterator"]
    recs = client.get_records(ShardIterator=it, Limit=10)["Records"]
    assert [r["Data"] for r in recs] == [b"s1-1", b"s1-2"]
    assert recs[0]["ApproximateArrivalTimestamp"].timestamp() == pytest.approx(
        fake_kinesis.due_time(conf, 1))
    counters = fake_kinesis.read_counters(str(tmp_path / "kinesis"))
    assert counters["calls"] == 4 and counters["served"] == 5


def test_fake_kinesis_releases_on_the_wall_clock(tmp_path, monkeypatch):
    client, conf = _fake(tmp_path, monkeypatch, t0=time.time() - 0.25)
    # due: backlog (3) + records at t0, t0+0.1, t0+0.2
    assert fake_kinesis.released(conf, time.time()) == 6
    assert fake_kinesis.released(conf, time.time() + 100) == conf["per_shard"]
    it = client.get_shard_iterator("x", "s0", "TRIM_HORIZON")["ShardIterator"]
    assert len(client.get_records(ShardIterator=it, Limit=100)["Records"]) == 6


# ------------------------------------------------------------------ smoke

def _run(args, cwd=REPO_ROOT, timeout=600):
    return subprocess.run(RUN + args, cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


@pytest.mark.parametrize(
    "workload", [w["name"] for w in _spec()["workloads"]] + ["query_mix"])
def test_smoke_workload_prints_every_end_to_end_metric(workload):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", "0", "--size", "smoke"])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_smoke_traced_run_prints_every_per_layer_metric():
    p = _run(["--workload", "kinesis_tail", "--seed", "3", "--seconds", "1",
              "--trace", "1", "--size", "smoke"])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    declared = {m["name"] for m in _spec()["per_layer"]}
    assert set(result["metrics"]) == declared
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["sources.kinesis.get_records_calls"] > 0
    assert m["streaming.store.batches"] > 0
    assert m["error_share"] == 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(REPO_ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(PERF_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "kinesis_tail", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=str(tmp_path), timeout=180)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
