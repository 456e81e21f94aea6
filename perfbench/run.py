"""End-to-end benchmark of tinyflux_spark, one workload per process.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest_mixed --seed 1 \\
        --seconds 10 --trace 0

Workloads: ``ingest_mixed`` and ``operator_pipeline`` (see
perfbench/README.md). The run starts its own ``local[nproc]``
Spark session, builds its inputs from ``--seed`` under a private
temporary directory in the checkout (removed at exit), sets the
workload up once, then runs rounds of checked calls in a closed loop
for ``--seconds`` (at least one round; with ``--trace 1`` the rounds of
``TRACE_ROUNDS``). ``setup_s`` is the CPU time of the set-up's load of
the workload's inputs, ``round_cpu_s`` that of the first round's ops,
in this process, the Spark JVM and its Python workers.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones (``E2E``); with ``--trace 1`` the per-layer ones
(``LAYERS``). The line before it holds host receipts, the workload's
own named metrics and every failure by op and error. With ``--trace 1``
the spans are written to ``.perfbench/traces/``.

Exits non-zero without a result if the package is not importable.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

# A traced run: the first (cold) round traced, as the e2e run times it,
# for the per-layer metrics; then warm rounds, untraced, traced and
# untraced, whose latency ratio is trace.overhead_frac.
TRACE_ROUNDS = (True, False, True, False)

E2E = {"setup_s": "s", "round_cpu_s": "s"}

# Per-layer metrics (traced run). A layer a workload does not touch
# reports 0.
LAYERS = {
    "queries.compile_ms": "ms",
    "storages.read_ms": "ms",
    "database.build_ms": "ms",
    "schema.collect_ms": "ms",
    "schema.rows_out": "rows",
    "schema.bytes_out": "bytes",
    "database.search_arrow_p50_ms": "ms",
    "database.search_p50_ms": "ms",
    "database.count_p50_ms": "ms",
    "database.contains_p50_ms": "ms",
    "database.get_p50_ms": "ms",
    "database.select_p50_ms": "ms",
    "storages.rows_scanned_per_row_returned": "ratio",
    "spark.jobs_per_read": "count",
    "spark.tasks_per_read": "count",
    "point.ctor_us": "us",
    "schema.points_to_df_ms": "ms",
    "storages.append_points_ms": "ms",
    "spark.jobs_per_insert": "count",
    "storages.append_df_ms": "ms",
    "streaming.batch_ms": "ms",
    "streaming.rows_per_batch": "rows",
    "storages.compact_ms": "ms",
    "database.update_ms": "ms",
    "database.remove_ms": "ms",
    "storages.bytes_written_per_byte_changed": "ratio",
    "spark.jobs_per_dml": "count",
    "storages.files": "count",
    "storages.files_per_partition": "count",
    "storages.versions_on_disk": "count",
    "storages.disk_bytes": "bytes",
    **{
        f"operators.{m}.{k}": u
        for m in ("timeseries", "aggregates", "similarity", "dedup", "text")
        for k, u in (("build_s", "s"), ("exec_s", "s"),
                     ("jobs_in_build", "count"))
    },
    "spark.task_s_per_call": "s",
    "spark.shuffle_mb_per_call": "MB",
    # The workloads' own named metrics, from the untraced rounds.
    "workload.read_p50_ms": "ms",
    "workload.insert_p50_ms": "ms",
    "workload.ingest_pts_s": "points/s",
    "workload.dml_round_ms": "ms",
    "workload.disk_bytes_per_pt": "bytes/point",
    "workload.pipeline_s": "s",
    "workload.failed_frac": "ratio",
    # Host-drift and overhead receipts.
    "host.nproc": "count",
    "host.load1": "load",
    "host.python_loop_ms": "ms",
    "spark.floor_ms": "ms",
    "trace.overhead_frac": "ratio",
}


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _private_tmp(root: str) -> str:
    """Every store, stream source, checkpoint, index and Spark scratch
    file of this run lives here; it is removed at exit."""
    base = os.path.join(root, ".perfbench")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    return tmp


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to end: the
    gateway JVM exits when its stdin closes."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def cpu_jiffies() -> tuple:
    """(steal, total) CPU time of the host's CPUs from /proc/stat:
    time the hypervisor gave this machine's CPUs to other guests."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return v[7], sum(v)


def host_receipts(spark) -> dict:
    """nproc, load average, and the two fixed-work probes bench.py
    records: a pure-Python loop and the single-task Spark action floor."""
    from tinyflux_spark.schema import collect_arrow_batches

    t0 = time.perf_counter()
    s = 0
    for i in range(2_000_000):
        s += i * i
    py_ms = (time.perf_counter() - t0) * 1000
    df = spark.range(100).coalesce(1).cache()
    df.count()
    for _ in range(3):
        collect_arrow_batches(df)
    floor = []
    for _ in range(10):
        t = time.perf_counter()
        collect_arrow_batches(df)
        floor.append(time.perf_counter() - t)
    df.unpersist()
    return {
        "host.nproc": len(os.sched_getaffinity(0)),
        "host.load1": os.getloadavg()[0],
        "host.python_loop_ms": py_ms,
        "spark.floor_ms": 1000 * min(floor),
    }


def run(args) -> dict:
    from spans import Clock, median
    from workloads import WORKLOADS

    # Wall time of each phase of the run, for the run's time budget.
    phase = {"start": time.perf_counter()}
    from tinyflux_spark.schema import get_spark

    spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
    phase["spark"] = time.perf_counter()
    clock = Clock(spark, traced=False)
    w = WORKLOADS[args.workload](spark, clock, args.seed, tempfile.tempdir)
    try:
        # One set-up per run, in the fresh JVM: over 9-20 runs per
        # workload on 4 cores its wall time spread by 0.09-0.16
        # (IQR/median), the median of three repeats after it in the
        # same process by 0.16-0.29. The session start is left out; it
        # spread more. Its CPU time is the metric: the wall time's
        # median moved by up to 29% between two sets of runs as the
        # host's other load changed.
        setup_wall_s, setup_s = w.setup()
        steal0 = cpu_jiffies()
        start = phase["setup"] = time.perf_counter()
        k = 0
        while (
            k < len(TRACE_ROUNDS) if args.trace
            else k < 1 or time.perf_counter() - start < args.seconds
        ):
            clock.traced = bool(args.trace) and TRACE_ROUNDS[k]
            clock.round = k
            w.round()
            k += 1
        rounds = [w.round_secs(i) for i in range(k)
                  if not (args.trace and TRACE_ROUNDS[i])]
        clock.traced = False
        phase["rounds"] = time.perf_counter()
        steal = [b - a for a, b in zip(steal0, cpu_jiffies())]
        w.finish()
        phase["finish"] = time.perf_counter()
        receipts = host_receipts(spark)
        # Share of CPU time stolen while the rounds ran (info line only).
        receipts["host.steal_frac"] = steal[0] / max(1, steal[1])
        clock.traced = bool(args.trace)
        clock.resolve()
        named = w.summary()
        if args.workload == "operator_pipeline":
            named["pipeline_s"] = median(rounds)
        named["failed_frac"] = len(w.failures) / max(1, w.attempted)
        if args.trace:
            layers = {k: 0.0 for k in LAYERS}
            layers.update(w.layers())
            layers.update(receipts)
            layers.update({f"workload.{k}": v for k, v in named.items()})
            layers["trace.overhead_frac"] = w.overhead_frac()
            metrics = {k: {"value": layers[k], "unit": u}
                       for k, u in LAYERS.items()}
            out = os.path.join(os.getcwd(), ".perfbench", "traces")
            os.makedirs(out, exist_ok=True)
            clock.dump(os.path.join(
                out, f"{args.workload}-seed{args.seed}.json"), w.records)
        else:
            e2e = {"setup_s": setup_s, "round_cpu_s": w.round_cpu(0)}
            metrics = {k: {"value": e2e[k], "unit": u}
                       for k, u in E2E.items()}
        print(json.dumps({
            "workload": args.workload, "seed": args.seed,
            "setup_wall_s": setup_wall_s, "setup_cpu_s": setup_s,
            "rounds_s": rounds,
            "rounds_cpu_s": [w.round_cpu(i) for i in range(k)],
            "named": named,
            "op_median_s": {
                k: median(w.times(k))
                for k in sorted({x[2] for x in w.records})
            },
            "op_median_cpu_s": {
                k: median([c for _r, kk, c in w.cpu_records if kk == k])
                for k in sorted({x[1] for x in w.cpu_records})
            },
            "receipts": receipts, "failures": w.failures,
            "phase_s": {b: phase[b] - phase[a] for a, b in
                        zip(list(phase), list(phase)[1:])},
        }))
        return {
            "correct": not w.failures,
            "attempted": w.attempted,
            "failed": len(w.failures),
            "metrics": metrics,
        }
    finally:
        _stop_spark(spark)


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    sys.path.insert(0, root)
    missing = [
        m for m in ("tinyflux_spark", "__spark_entry__")
        if importlib.util.find_spec(m) is None
    ]
    if missing:
        print(f"perfbench: run from a checkout of the repo root; cannot "
              f"import {missing}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tmp = _private_tmp(root)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = run(args)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
