"""Shared machinery for the perfbench workloads.

Everything here measures from outside the engine: spans wrap the
benchmark's own calls into each layer, CPU comes from ``/proc`` for the
process tree of the system under test, and streaming progress comes
from a benchmark-owned ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time

PERF_DIR = os.path.dirname(os.path.abspath(__file__))
CLK_TCK = os.sysconf("SC_CLK_TCK")


class BenchFailure(Exception):
    """An output check failed; the run reports it and exits non-zero."""


# ---------------------------------------------------------------- timing

def median(values):
    return statistics.median(values) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100])."""
    if not values:
        return 0.0
    s = sorted(values)
    k = math.ceil(q * len(s) / 100.0) - 1
    return s[max(0, min(len(s) - 1, k))]


# ------------------------------------------------------------------- CPU

def _proc_table() -> dict[int, tuple[int, float, float, str]]:
    """pid -> (ppid, own cpu s, reaped-children cpu s, state) for every
    process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue  # exited between listdir and open
        # comm may hold spaces/parens: fields resume after the last ')'
        rest = raw[raw.rfind(")") + 2:].split()
        ppid = int(rest[1])
        own = (int(rest[11]) + int(rest[12])) / CLK_TCK
        kids = (int(rest[13]) + int(rest[14])) / CLK_TCK
        out[int(name)] = (ppid, own, kids, rest[0])
    return out


def _descendants(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    out, stack = [], list(children.get(root, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


class CpuMeter:
    """User+sys CPU of this process and its descendants.

    ``exclude`` holds pids (with their subtrees) that are not part of
    the system under test, e.g. the wire generator. This process's own
    reaped-children time is left out, because the only child it reaps
    during a run is the generator; every other descendant counts its
    reaped children (Python workers) through its own cutime.
    """

    def __init__(self):
        self.root = os.getpid()
        self.exclude: set[int] = set()

    def read(self) -> float:
        table = _proc_table()
        children: dict[int, list[int]] = {}
        for pid, row in table.items():
            children.setdefault(row[0], []).append(pid)
        total, stack = 0.0, [self.root]
        while stack:
            pid = stack.pop()
            if pid in self.exclude or pid not in table:
                continue
            _, own, kids, _ = table[pid]
            total += own + (kids if pid != self.root else 0.0)
            stack.extend(children.get(pid, ()))
        return total


# ------------------------------------------------------------- processes

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts (Linux),
    so a descendant whose parent dies first, such as a Python worker of
    the JVM, stays in this tree until ``stop_descendants`` reaps it."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(
            PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: the JVM shutdown below still waits for its child


def _reap() -> None:
    """Collect every child of this process that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_descendants(grace: float = 10.0, limit: float = 30.0) -> list[int]:
    """Stop every process below this one and wait until each has ended.

    SIGTERM first, SIGKILL for what is still alive after ``grace``
    seconds; returns the pids still present after ``limit`` seconds.
    """
    import signal

    me = os.getpid()
    t0 = time.monotonic()
    sent = None
    while True:
        _reap()
        table = _proc_table()
        left = _descendants(table, me)
        if not left:
            return []
        elapsed = time.monotonic() - t0
        if elapsed > limit:
            return left
        sig = signal.SIGKILL if elapsed > grace else signal.SIGTERM
        if sent != sig:
            for pid in (p for p in left if table[p][3] != "Z"):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sent = sig
        time.sleep(0.05)


def stop_jvm(timeout: float = 30.0) -> None:
    """End the py4j gateway's JVM and wait for it.

    The JVM exits by itself when its stdin closes, but only after this
    process has gone; closing the pipe here makes it exit now, with its
    shutdown hooks, before the run ends.
    """
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    try:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout)
    except Exception:  # noqa: BLE001 — fall through to a hard stop
        proc.kill()
        proc.wait()
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — the JVM side is already gone
        pass


# --------------------------------------------------------------- tracing

class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


_NULL_SPAN = _NullSpan()


class _Span:
    __slots__ = ("tracer", "name", "start", "end", "parent", "sid")

    def __init__(self, tracer, name):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t0 = time.perf_counter()
        tr = self.tracer
        stack = tr._stack()
        self.parent = stack[-1].sid if stack else None
        self.sid = len(tr.spans)
        tr.spans.append(self)
        stack.append(self)
        self.start = time.perf_counter()
        tr.overhead_s += self.start - t0
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        self.tracer._stack().pop()
        self.tracer.overhead_s += time.perf_counter() - self.end
        return False


class Tracer:
    """In-memory spans (name, start, end, parent, run id).

    Disabled, ``span`` returns a shared no-op context manager so the
    untraced run pays one attribute test per call site.
    """

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[_Span] = []
        self.overhead_s = 0.0
        self._local = threading.local()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        if not self.enabled:
            return _NULL_SPAN
        return _Span(self, name)

    def self_times(self) -> dict[str, float]:
        """Per layer (span name up to its last dot): duration minus the
        part of it that child spans cover."""
        kids: dict[int, list[_Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur = 0.0, None
            for c in sorted(kids.get(s.sid, ()), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if cur is None or lo > cur[1]:
                    if cur:
                        covered += cur[1] - cur[0]
                    cur = [lo, hi]
                else:
                    cur[1] = max(cur[1], hi)
            if cur:
                covered += cur[1] - cur[0]
            layer = s.name.rsplit(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "run": self.run_id, "id": s.sid, "name": s.name,
                    "start": s.start, "end": s.end, "parent": s.parent}) + "\n")


# ----------------------------------------------------- streaming progress

def progress_listener_class():
    """Build the listener class lazily: importing pyspark is the
    session's cost, not this module's."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        """Every progress event of every query (``recentProgress``
        keeps only the last 100)."""

        def __init__(self):
            self._lock = threading.Lock()
            self.events: list[dict] = []
            self.terminated: list = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            src = p.sources[0] if p.sources else None
            rec = {
                "query": p.name,
                "batch": p.batchId,
                "rows": p.numInputRows,
                "start": iso_to_epoch(p.timestamp),
                "duration_ms": dict(p.durationMs or {}),
                "end_offset": src.endOffset if src else None,
            }
            with self._lock:
                self.events.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated.append(event.exception)

        def snapshot(self, query: str | None = None) -> list[dict]:
            """Copies of the batches (of one query, by name)."""
            with self._lock:
                return [dict(e) for e in self.events
                        if query in (None, e["query"])]

    return ProgressLog


def iso_to_epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def commit_time(ev: dict) -> float:
    """Batch commit instant: progress timestamp + triggerExecution."""
    return ev["start"] + ev["duration_ms"].get("triggerExecution", 0) / 1000.0


def store_metrics(events: list[dict]) -> dict[str, float]:
    """Per-layer streaming.store numbers from the batches that read data."""
    events = [e for e in events if e["rows"] > 0]
    keys = {"add_batch_ms": "addBatch", "latest_offset_ms": "latestOffset",
            "get_batch_ms": "getBatch", "query_planning_ms": "queryPlanning",
            "wal_commit_ms": "walCommit", "commit_offsets_ms": "commitOffsets"}
    out = {f"streaming.store.{k}": float(sum(
        e["duration_ms"].get(v, 0) for e in events)) for k, v in keys.items()}
    rows = sum(e["rows"] for e in events)
    out["streaming.store.batches"] = len(events)
    out["streaming.store.rows_per_batch"] = rows / len(events) if events else 0.0
    return out


def wait_for(pred, timeout: float, poll: float = 0.05, what: str = "") -> None:
    deadline = time.monotonic() + timeout
    while not pred():
        if time.monotonic() > deadline:
            raise BenchFailure(f"timed out after {timeout:.0f}s waiting for {what}")
        time.sleep(poll)


def decode_payloads(spark, payloads: list[bytes]):
    """msgpack payloads as a batch DataFrame, decoded to EVENTS_SCHEMA."""
    import pandas as pd

    from go_triton_spark.codec.decode import decode_msgpack_column
    from go_triton_spark.types import EVENTS_SCHEMA

    df = spark.createDataFrame(pd.DataFrame({"data": payloads}), "data binary")
    return decode_msgpack_column(df, EVENTS_SCHEMA)


def _unit_of(name: str) -> str:
    for suffix, unit in (("_ms", "ms"), ("_s", "s"), ("_rps", "rec/s")):
        if name.endswith(suffix):
            return unit
    return "count"


# ------------------------------------------------------------ the session

class Run:
    """One benchmark run: work dir, session, meters, result."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 size: str, t_process: float):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.size = size
        self.t_process = t_process
        self.tracer = Tracer(trace, f"{workload}-{seed}-{os.getpid()}")
        self.cpu = CpuMeter()
        self.work = os.path.join(os.getcwd(), ".perfbench_work",
                                 f"{workload}-{seed}-{os.getpid()}")
        self.metrics: dict[str, tuple[float, str]] = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.spark = None

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def put_many(self, values: dict[str, float]) -> None:
        for name, v in values.items():
            self.put(name, v, _unit_of(name))

    def dump_progress(self, events: list[dict]) -> None:
        """Traced runs keep every micro-batch's progress next to the spans."""
        if not self.traced:
            return
        path = os.path.join(os.getcwd(), ".perfbench_out",
                            f"progress-{self.tracer.run_id}.jsonl")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            for ev in events:
                f.write(json.dumps(ev, default=str) + "\n")

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a failure is kept and reported."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def start_session(self):
        """Session + a first trivial job, each timed."""
        os.makedirs(self.work, exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # keep every scratch write inside the checkout
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        # the fake Kinesis service is imported inside Spark's Python
        # workers through the source's client_factory option
        paths = [PERF_DIR] + [p for p in os.environ.get(
            "PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)
        os.environ["PERFBENCH_WORK"] = self.work
        from go_triton_spark.session import builder

        with self.tracer.span("session.get_spark"):
            t0 = time.perf_counter()
            b = (builder(f"perfbench-{self.workload}")
                 .config("spark.driver.extraJavaOptions",
                         f"-Djava.io.tmpdir={tmp}")
                 .config("spark.sql.warehouse.dir",
                         os.path.join(self.work, "warehouse"))
                 .config("spark.ui.showConsoleProgress", "false"))
            self.spark = b.getOrCreate()
            self.spark.sparkContext.setLogLevel("ERROR")
            self.put("session.get_spark_s", time.perf_counter() - t0, "s")
        with self.tracer.span("session.warmup"):
            t0 = time.perf_counter()
            self.spark.range(1000).selectExpr("sum(id)").collect()
            self.put("session.warmup_s", time.perf_counter() - t0, "s")
        return self.spark

    def engine(self, config_yaml: str | None = None):
        """A TritonEngine rooted in the work dir, plus a progress log
        listening to every streaming query of the session."""
        from go_triton_spark.config import load_config
        from go_triton_spark.engine import TritonEngine

        listener = progress_listener_class()()
        self.spark.streams.addListener(listener)
        cfg = load_config(config_yaml) if config_yaml else None
        eng = TritonEngine(self.spark, os.path.join(self.work, "engine"),
                           config=cfg, client="bench")
        return eng, listener

    def setup_done(self) -> None:
        self.put("setup_s", time.perf_counter() - self.t_process, "s")

    def measure_msgpack_decode(self, payloads: list[bytes]) -> None:
        """codec.decode: the run's own payloads as a batch DataFrame
        through ``decode_msgpack_column`` into the noop sink."""
        df = decode_payloads(self.spark, payloads)
        with self.tracer.span("codec.decode.msgpack"):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
        self.put("codec.decode.msgpack_rps", len(payloads) / elapsed, "rec/s")

    def archive_stats(self, root: str) -> None:
        """Files and bytes an ingest left in the archive."""
        files = size = 0
        for base, dirs, names in os.walk(root):
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for n in names:
                if n.endswith(".parquet") and not n.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(base, n))
        self.put("archive.files", files, "count")
        self.put("archive.bytes", size, "B")

    def close(self) -> None:
        """Stop the session, the JVM and every process the run started,
        waiting for each to end, then remove the work dir."""
        import shutil

        if self.spark is not None:
            try:
                for q in self.spark.streams.active:
                    q.stop()
            finally:
                try:
                    self.spark.stop()
                finally:
                    self.spark = None
        stop_jvm()
        left = stop_descendants()
        if left:
            self.check(False, f"processes {left} did not end")
        shutil.rmtree(self.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.work))
        except OSError:
            pass  # a concurrent run still owns a sibling dir
