"""perfbench: the archiver path and the operator mix, end to end.

Usage (from the repository root):

    python3 perfbench/run.py --workload kinesis_tail --seed 1 --seconds 8 --trace 0

Workloads: kinesis_tail, wire_ingest, archive_replay, query_mix (see
perfbench/README.md). ``--size smoke`` runs a tiny version of each for
the benchmark's own tests. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are BENCHMARK.json's ``end_to_end`` list; with ``--trace 1``
its ``per_layer`` list, and the spans go to
``.perfbench_out/spans-<run>.jsonl``. A failed output check prints the
result with ``"correct": false`` and exits 1.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

PERF_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(PERF_DIR)
WORKLOADS = ("kinesis_tail", "wire_ingest", "archive_replay", "query_mix")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("default", "smoke"), default="default")
    return ap.parse_args(argv)


def load_spec() -> dict:
    with open(os.path.join(REPO_ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def select_metrics(r, spec: dict) -> dict:
    """The declared metric list for this mode, every name present.

    A per-layer metric of a layer the workload leaves idle reads 0; an
    end-to-end metric a workload did not produce is a benchmark bug.
    """
    declared = spec["per_layer"] if r.traced else spec["end_to_end"]
    out = {}
    for m in declared:
        name = m["name"]
        if name in r.metrics:
            value = r.metrics[name][0]
        elif r.traced:
            value = 0.0
        else:
            raise RuntimeError(f"workload {r.workload} did not report {name}")
        out[name] = {"value": value, "unit": m["unit"]}
    return out


def trace_metrics(r) -> None:
    for layer, s in r.tracer.self_times().items():
        r.put(f"self_s.{layer}", s, "s")
    r.put("trace.spans", len(r.tracer.spans), "count")
    r.put("trace.overhead_ms", r.tracer.overhead_s * 1000.0, "ms")
    r.tracer.dump(os.path.join(os.getcwd(), ".perfbench_out",
                               f"spans-{r.tracer.run_id}.jsonl"))


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])
    sys.path.insert(0, REPO_ROOT)
    try:
        importlib.import_module("go_triton_spark")
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable here: {exc}",
              file=sys.stderr)
        return 2
    spec = load_spec()
    from harness import BenchFailure, Run, adopt_orphans

    # every process the run starts stays below this one, and a SIGTERM
    # unwinds through Run.close like any other way out
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    r = Run(args.workload, args.seed, args.seconds, bool(args.trace),
            args.size, T_PROCESS)
    crashed = False
    try:
        r.start_session()
        workload = importlib.import_module(args.workload)
        workload.run(r)
    except BenchFailure as exc:
        r.check(False, str(exc))
    except Exception:  # noqa: BLE001 — report and exit non-zero
        traceback.print_exc()
        crashed = True
    finally:
        r.close()
    for p in r.problems:
        print(f"perfbench: FAILED CHECK: {p}", file=sys.stderr)
    if crashed or r.attempted == 0:
        return 1
    if r.traced:
        r.put("error_share", r.failed / r.attempted, "ratio")
        trace_metrics(r)
        for name, (value, unit) in sorted(r.metrics.items()):
            print(f"perfbench: {name} = {value:.6g} {unit}", file=sys.stderr)
    ok = r.failed == 0
    print(json.dumps({"correct": ok, "attempted": r.attempted,
                      "failed": r.failed,
                      "metrics": select_metrics(r, spec) if ok else {}}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
