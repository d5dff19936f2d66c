"""Benchmark of record: one workload per invocation.

    python3 perfbench/run.py --workload poll_drain --seed 1 --seconds 16 --trace 0

Run from the repository root. Inputs are generated from ``--seed``
inside ``.perfbench_work/``; the program sees only those files. The run
measures warm work for about ``--seconds`` seconds, checks every
output against an independent computation, and prints one JSON object
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics, and
the spans are written to ``.perfbench_work/trace-<workload>-<seed>.json``.
A human-readable report, the workload's inputs and the host-noise record
go to standard error. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("poll_drain", "stream_upsert")

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "rows_per_s": "rows/s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
}
# Layers a workload does not exercise read 0: that is the prediction
# for them (e.g. no state or store on poll_drain, no polling on
# stream_upsert).
PER_LAYER = {
    "session.get_spark_s": "s",
    "polling.fetch_page_ms.head": "ms",
    "polling.fetch_page_ms.tail": "ms",
    "polling.pages": "count",
    "polling.latest_offset_ms.p50": "ms",
    "polling.page_read_share_pct": "%",
    "polling.drain_noop_s": "s",
    "baseline.local1_rows_per_s": "rows/s",
    "streaming.batches": "count",
    "streaming.trigger_ms.p50": "ms",
    "streaming.trigger_ms.p99": "ms",
    "streaming.overhead_ms.p50": "ms",
    "streaming.state_rows": "count",
    "streaming.state_commit_ms.p50": "ms",
    "streaming.state_instances": "count",
    "sinks.write_ms.p50": "ms",
    "sinks.files": "count",
    "sinks.bytes": "bytes",
    "stores.merge_ms.p50": "ms",
    "stores.swap_ms.p50": "ms",
    "stores.state_bytes": "bytes",
    "gen.lag_max_s": "s",
    "trace.overhead_pct": "%",
}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str, nproc: int) -> None:
    """Keep every file the run and the JVM write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
            "TZ": "UTC",
            "SPARK_GRAFT_CPUS": str(nproc),
            # bounded heap: the benchmark shares the host's memory
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        }
    )
    time.tzset()
    sys.path[:0] = [ROOT, HERE]
    os.chdir(work)  # Spark's warehouse and metastore defaults are relative


def _stop_processes(harness) -> None:
    """Stop the session and the JVM, then wait for every descendant."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(30)
    except Exception:  # noqa: BLE001 - a run cut short: the kill below
        if proc is not None:
            proc.kill()
    deadline = time.time() + 20
    while harness.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in harness.descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.time() + 10
    while harness.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def main(argv=None) -> int:
    args = _parse(argv)
    # a terminated run still stops its processes and deletes its inputs
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "kinesis_dstream_spark", "__init__.py")):
        print(
            f"perfbench: the program (kinesis_dstream_spark/) is not in {ROOT}; "
            "run from a checkout of the repository",
            file=sys.stderr,
        )
        return 2
    nproc = len(os.sched_getaffinity(0))
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        return _run(args, work_root, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work_root: str, work: str, nproc: int) -> int:
    _environment(work, nproc)
    import harness
    import workloads

    host_start = harness.host_record(nproc)
    sampler = harness.RssSampler()
    sampler.start()
    b = workloads.Bench(args.seed, args.seconds, bool(args.trace), work, nproc)
    try:
        out = workloads.WORKLOADS[args.workload](b)
    finally:
        b.mark("workload")
        _stop_processes(harness)
        b.mark("stopped")
        sampler.stop()
    # memory while the measured part runs: not during session restarts
    # (old and new workers overlap) nor during the checks
    t0 = b.marks["warmup"]
    peak_mb, peak_procs = sampler.peak(
        [w for w in b.windows if t0 <= w[0] and w[1] <= b.marks["measured"]]
    )
    host_end = harness.host_record(nproc)

    e2e = {"peak_rss_mb": peak_mb, **{k: out[k] for k in END_TO_END if k in out}}
    layers = {name: 0.0 for name in PER_LAYER}
    layers.update(b.per_layer)
    layers["session.get_spark_s"] = harness.median(b.get_spark_s)
    layers["gen.lag_max_s"] = out.get("lag_max_s", 0.0)
    lag = out.get("lag_max_s", 0.0)
    steal = harness.steal_pct(host_start["cpu_times"], host_end["cpu_times"])
    record = {
        "workload": args.workload,
        "why": workloads.WHY[args.workload],
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": b.record.pop("inputs"),
        "latency_samples": b.record.pop("latency_samples"),
        "rounds": b.record.pop("rounds"),
        "host": {
            "nproc": nproc,
            "loadavg_start": host_start["loadavg"],
            "loadavg_end": host_end["loadavg"],
            "cpu_calib_ms_start": host_start["cpu_calib_ms"],
            "cpu_calib_ms_end": host_end["cpu_calib_ms"],
            "foreign_jvms_start": host_start["foreign_jvms"],
            "steal_pct": steal,
            "gen.lag_max_s": lag,
            # a host busier than this run alone, CPU time taken by other
            # machines on the same hypervisor, a JVM this run did not
            # start, or a late generator makes the figures incomparable
            # with a quiet run (the calibration loop moves by 25 % even on
            # an idle host, so it is recorded but does not flag)
            "noisy": host_start["loadavg"][0] > 1.5 * nproc
            or steal > 5
            or host_start["foreign_jvms"] > 0
            or lag > 0.5,
        },
        "peak_rss_processes_mb": peak_procs,
        "failures": b.ops.notes,
        "end_to_end": e2e,
        "per_layer": layers if args.trace else None,
        **b.record,
    }
    if args.trace:
        b.tracer.write(os.path.join(work_root, f"trace-{args.workload}-{args.seed}.json"))
        record["self_time_s"] = b.tracer.self_time_by_layer()
    name = f"record-{args.workload}-{args.seed}-{args.trace}.json"
    with open(os.path.join(work_root, name), "w") as f:
        json.dump(record, f, indent=1, default=float)
    metrics, units = (layers, PER_LAYER) if args.trace else (e2e, END_TO_END)
    print(json.dumps({k: v for k, v in record.items() if k not in ("end_to_end", "per_layer")}, default=float), file=sys.stderr)
    for name, unit in units.items():
        print(f"  {name:44s} {metrics[name]:14.4f} {unit}", file=sys.stderr)
    print(
        f"  {'failed_ratio':44s} {b.ops.failed / max(1, b.ops.attempted):14.4f} "
        f"({b.ops.failed}/{b.ops.attempted})",
        file=sys.stderr,
    )
    result = {
        "correct": b.ops.failed == 0,
        "attempted": b.ops.attempted,
        "failed": b.ops.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
