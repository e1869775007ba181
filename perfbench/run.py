#!/usr/bin/env python3
"""Seeded benchmark of the datawarehouse_spark package.

    python3 perfbench/run.py --workload bi_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` in the checkout; the package runs on
``local[<cores>]`` with one client. The run

1. generates the inputs (not timed);
2. sets up ``Workload.setups`` times — session start, catalog registration and
   one warm-up request, each on a fresh SparkSession in the same JVM
   (the first also launches the JVM) — and reports the median as
   ``setup_s``; the last set-up serves the measured window;
3. measures whole rounds of the workload's requests for ``--seconds``;
4. checks every output against DuckDB (not timed);
5. stops the JVM and every process under it.

It prints one human-readable line per figure (the workload-specific
names, with units, and the host-contention evidence) and, last, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of ``BENCHMARK.json``;
with ``--trace 1`` the layer entry points are wrapped by
``perfbench/tracing.py`` and the metrics are the per-layer ones. The exit
code is 0 only if every operation succeeded and every output matched.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: driver JVM heap, fixed so that runs compare whatever the caller's env says
DRIVER_MEM = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "catalog.load_s": "s",
    "catalog.load_calls": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "engine.sql_s": "s",
    "plans.lint_s": "s",
    "plans.optimize_s": "s",
    "exec.run_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.shuffle_bytes": "bytes",
    "exec.scan_rows_per_result_row": "ratio",
    "operators.text_s": "s",
    "operators.dedup_s": "s",
    "operators.similarity_s": "s",
    "operators.lsh_pair_precision": "ratio",
    "operators.persisted_rdds": "count",
    "sources.merge_s": "s",
    "sources.write_amp": "ratio",
    "sources.files_live": "count",
    "sources.read_s": "s",
    "sources.maintenance_s": "s",
    "sources.space_amp": "ratio",
    "streaming.trigger_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.planning_s": "s",
    "streaming.commit_s": "s",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "trace.overhead_s": "s",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bi_mix", "corpus_dedup", "ingest_merge"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> None:
    """Point every scratch path of Python, Spark and its workers into
    the work directory, and make the package importable by workers."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # also reaches spark-submit's launcher JVM, which would otherwise
    # write its perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def layer_metrics(wl, tracer, harness, setup_spans, mark, n_req: int) -> dict:
    """Per-layer figures of the measured window, per request."""
    self_s = tracer.self_times(mark)
    counters = harness.stage_counters()
    ex = counters.get("exec", {})
    if wl.name == "ingest_merge":
        ex = counters.get("stream", {})
    build = counters.get("build", {})
    per = 1.0 / n_req
    start = [s[5] - s[4] for s in setup_spans if s[3] == "get_spark"]
    out = {
        "session.start_s": statistics.median(start) if start else 0.0,
        "catalog.load_s": self_s.get("catalog", 0.0) * per,
        "catalog.load_calls": tracer.count("catalog", "load_tables", mark) * per,
        "queries.build_s": self_s.get("queries", 0.0) * per,
        "queries.build_jobs": build.get("jobs", 0) * per,
        "engine.sql_s": self_s.get("engine", 0.0) * per,
        "plans.lint_s": self_s.get("plans", 0.0) * per,
        "plans.optimize_s": self_s.get("plans.optimize", 0.0) * per,
        "exec.run_s": self_s.get("exec", 0.0) * per,
        "exec.jobs": ex.get("jobs", 0) * per,
        "exec.stages": ex.get("stages", 0) * per,
        "exec.tasks": ex.get("tasks", 0) * per,
        "exec.failed_tasks": sum(c["failed_tasks"] for c in counters.values()),
        "exec.shuffle_bytes": ex.get("shuffle_bytes", 0) * per,
        "exec.scan_rows_per_result_row":
            ex.get("input_records", 0) / max(1, wl.result_rows),
        "operators.text_s": self_s.get("operators.text", 0.0) * per,
        "operators.dedup_s": self_s.get("operators.dedup", 0.0) * per,
        "operators.similarity_s": self_s.get("operators.similarity", 0.0) * per,
        "operators.lsh_pair_precision": 0.0,
        "operators.persisted_rdds":
            statistics.mean(wl.persisted) if wl.persisted else 0.0,
        "sources.merge_s": 0.0, "sources.write_amp": 0.0,
        "sources.files_live": 0.0, "sources.read_s": 0.0,
        "sources.maintenance_s": 0.0, "sources.space_amp": 0.0,
        "streaming.trigger_s": 0.0, "streaming.add_batch_s": 0.0,
        "streaming.planning_s": 0.0, "streaming.commit_s": 0.0,
        "streaming.input_rows": 0.0, "streaming.state_rows": 0.0,
    }
    out.update(wl.layer_figures())
    return out


T_START = time.perf_counter()


def _phase(name: str) -> None:
    """Progress on stderr: where the run's wall time goes."""
    print(f"perfbench: {name} done at {time.perf_counter() - T_START:.1f} s",
          file=sys.stderr, flush=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "datawarehouse_spark")) or \
            not os.path.isfile(os.path.join(ROOT, "bench.py")):
        print("perfbench: run from the root of a datawarehouse_spark checkout "
              "(package or bench.py not found)", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    _environment(work)

    from harness import Harness
    from workloads import WORKLOADS

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer()
        tracer.install()
    harness = Harness(work, _cpus())
    wl = WORKLOADS[args.workload](harness, args.seed, work, tracer)
    wl.prepare()
    _phase("inputs")

    setups = []
    try:
        for i in range(wl.setups):
            t0 = time.perf_counter()
            harness.start_session()
            wl.setup()
            setups.append(time.perf_counter() - t0)
            _phase(f"set-up {i + 1}")
            if i == 0:
                # peak RSS counts the program, not the checker: the corpus
                # oracles may still run during the first set-up
                harness.start_sampling()
            if i < wl.setups - 1:
                wl.teardown()
                harness.stop_session()
        mark = tracer.mark() if tracer else 0
        setup_spans = list(tracer.spans) if tracer else []
        wl.measure(args.seconds)
        wl.teardown()
        harness.stop_sampling()
        _phase("measured window")
        n_req = max(1, len(wl.latencies))
        layers = (layer_metrics(wl, tracer, harness, setup_spans, mark, n_req)
                  if tracer else None)
        problems = wl.check()
        _phase("check")
    finally:
        harness.shutdown()
        _phase("shutdown")

    figures = wl.latency_figures()
    figures["setup_s"] = statistics.median(setups)
    figures["peak_rss_mb"] = harness.peak_rss_kb / 1024.0
    error_rate = (wl.failed + len(problems)) / max(1, wl.attempted)
    failed = wl.failed + len(problems)

    for err in wl.errors + problems:
        print(f"ERROR {wl.name}: {err}", file=sys.stderr)
    print(f"{wl.name} setup_s {figures['setup_s']:.4f} s "
          f"(median of {wl.setups}: {', '.join(f'{s:.3f}' for s in setups)})")
    for name, (value, unit) in wl.named_figures().items():
        print(f"{wl.name} {name} {value:.6g} {unit}")
    print(f"{wl.name} error_rate {error_rate:.6g} ratio "
          f"({failed} of {wl.attempted})")
    print(f"{wl.name} peak_rss_mb {figures['peak_rss_mb']:.1f} MB")
    print(f"{wl.name} persisted_rdds_dropped {sum(wl.persisted)} count "
          "(leaked RDDs counted and dropped after every call)")
    print(f"{wl.name} contention {json.dumps(harness.contention())}")

    if tracer:
        overhead = (statistics.median(wl.latencies)
                    - statistics.median(wl.untraced_latencies)
                    if wl.latencies and wl.untraced_latencies else 0.0)
        layers["trace.overhead_s"] = overhead
        print(f"{wl.name} trace.overhead_s {overhead:.6g} s (median latency of "
              f"{len(wl.latencies)} traced minus {len(wl.untraced_latencies)} "
              "untraced requests, alternating in this run)")
        tracer.dump(os.path.join(work, f"spans_{wl.name}_seed{args.seed}.json"))
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": figures[k], "unit": u}
                   for k, u in END_TO_END_UNITS.items()}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": wl.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
