"""The workloads of the benchmark.

- ``poll_drain``: closed loop, one live streaming query. The reference
  pipeline draining bursts of a growing log: ``paged_poll`` source ->
  compiled contacts payload -> ``foreachBatch(JsonLogSink)``. Stresses
  ``sources.polling`` and ``sources.sinks``; no shuffle, state or store,
  so it is the bypass workload for session, state and operator changes.
- ``stream_upsert``: open loop. Parquet files arrive on a fixed schedule;
  a watermarked dedup feeds a ``foreachBatch`` that rewrites a
  latest-state-per-user parquet store (``changelog_latest_state`` over
  store + batch, then ``stores.swap_dir``) and writes the batch to
  ``JsonLogSink``. Stresses the ``streaming`` state store, ``stores``
  and ``sinks``; never polls.

Every workload reports the same end-to-end metrics (see README.md):
``setup_s``, ``peak_rss_mb``, ``rows_per_s``, ``latency_p50_s`` and
``latency_p99_s``. Each run builds a session several times to measure
set-up (the first build also launches the JVM and is not counted),
warms up unmeasured (the JIT keeps speeding the first batches up), then
measures and reports medians.
"""

from __future__ import annotations

import ast
import json
import math
import os
import sys
import time

import numpy as np

import checks
import gen
from harness import Ops, Tracer, median, pct
from kinesis_dstream_spark import stores
from kinesis_dstream_spark.operators import reference_ops
from kinesis_dstream_spark.plans.filter_ir import compile_payload, contacts_poll_payload
from kinesis_dstream_spark.session import get_spark
from kinesis_dstream_spark.sources import polling
from kinesis_dstream_spark.sources.sinks import JsonLogSink
from kinesis_dstream_spark.streaming.control import StreamingJobRegistry

DAY_MS = 86_400_000
# Warm set-ups measured per run, after the first one, which also
# launches the JVM: setup_s is their median, a set-up in a running JVM.
SETUPS = 3
T0_MS = gen.T0_US // 1000

WHY = {
    "poll_drain": "the reference pipeline draining bursts of a growing log: paged_poll "
    "pages and the JSON sink do the work; no shuffle, state or store (bypass for those layers)",
    "stream_upsert": "open-loop stateful ingest: dedup state, a store rewritten every "
    "batch and the sink carry the work while new files keep arriving; never polls",
}


def _offset(o):
    """A source offset from progress JSON. The Python data source
    reports its offset dict as a Python literal string."""
    if isinstance(o, str):
        try:
            return json.loads(o)
        except json.JSONDecodeError:
            return ast.literal_eval(o)
    return o


class Bench:
    """State of one benchmark run: the current session, the tracer, the
    failure account and the record the report prints."""

    def __init__(self, seed: int, seconds: int, trace: bool, work: str, nproc: int):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.nproc = nproc
        self.tracer = Tracer(False)  # switched on for the traced bursts or batches
        self.ops = Ops()
        self.spark = None
        self.t_start = time.time()
        self.record: dict = {}
        self.per_layer: dict[str, float] = {}
        self.get_spark_s: list[float] = []
        self.marks: dict[str, float] = {}
        # (start, end) of every query's life; memory is measured in
        # these, so the checks' own allocations do not count
        self.windows: list[tuple[float, float]] = []

    def mark(self, phase: str) -> None:
        """Wall-clock timeline of the run, for the report and for picking
        the measured part's memory windows."""
        self.marks[phase] = time.time()
        self.record.setdefault("timeline_s", {})[phase] = round(time.time() - self.t_start, 2)

    def span(self, name: str, **kw):
        return self.tracer.span(name, **kw)

    def new_session(self, cpus: int | None = None) -> float:
        """Stop the current session and build a new one; returns the
        seconds of ``get_spark`` + first job."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus or self.nproc)
        t0 = time.perf_counter()
        with self.span("session.get_spark"):
            spark = get_spark("perfbench")
        self.get_spark_s.append(time.perf_counter() - t0)
        with self.span("session.first_job"):
            spark.range(1000).count()
        self.spark = spark
        return time.perf_counter() - t0

    def setup_cycles(self, cycle, warm: int = SETUPS) -> float:
        """Run ``cycle(i)`` (which returns its set-up seconds) once cold
        and ``warm`` times warm; the median of the warm ones."""
        setups = [cycle(i) for i in range(1 + warm)]
        self.record["setup_cold_s"], self.record["setups"] = setups[0], setups[1:]
        self.mark("setups")
        return median(setups[1:])


class Stream:
    """One streaming query, started and stopped through
    ``StreamingJobRegistry``. The ``foreachBatch`` wrapper records only
    the wall time at which each batch's sink call returned."""

    def __init__(self, bench: Bench, name: str):
        self.b = bench
        self.name = name
        self.registry = StreamingJobRegistry(bench.spark)
        self.query = None
        self.land: dict[int, float] = {}
        self.progress: dict[int, dict] = {}
        self.in_batch = False
        self.stopping = False
        # traced runs of a single long round trace every other batch
        self.alternate = False

    def wrap(self, inner):
        b, parent = self.b, self.b.tracer.current()

        def foreach_batch(df, batch_id):
            if self.alternate:
                b.tracer.enabled = batch_id % 2 == 1
            self.in_batch = True
            try:
                with b.span("streaming.batch", parent=parent, batch=batch_id):
                    inner(df, batch_id)
            except Exception as e:
                if self.stopping:  # interrupted by our own stop: noise
                    print(f"perfbench: batch {batch_id} interrupted by stop: {str(e)[:200]}", file=sys.stderr)
                else:
                    b.ops.fail(f"{self.name}: micro-batch {batch_id} raised")
                raise
            finally:
                self.in_batch = False
            self.land[batch_id] = time.time()
            b.ops.ok()

        return foreach_batch

    def start(self, build) -> None:
        def builder():
            self.query = build()
            return self.query

        self.t_started = time.time()
        with self.b.span("streaming.start"):
            self.registry.start(self.name, builder)

    def poll_progress(self) -> None:
        """Collect progress of new batches. One call for the last batch;
        the whole recent list only when batches were skipped, so that
        polling loads the driver as little as possible."""
        last = self.query.lastProgress
        if last is None:
            return
        d = json.loads(last.json)
        if d["batchId"] - 1 in self.progress or d["batchId"] == 0:
            self.progress[d["batchId"]] = d
            return
        for p in self.query.recentProgress:
            d = json.loads(p.json)
            self.progress[d["batchId"]] = d

    def input_rows(self) -> int:
        return sum(p["numInputRows"] for p in self.progress.values())

    def wait(self, done, timeout_s: float) -> bool:
        """Poll progress until ``done()``; False on timeout or if the
        query died."""
        deadline = time.time() + timeout_s
        with self.b.span("streaming.wait"):
            while time.time() < deadline:
                self.poll_progress()
                if done():
                    return True
                if not self.query.isActive:
                    return False
                time.sleep(0.1)
        return False

    def stop(self, wait_idle: bool = True) -> None:
        """Record a real query failure, then stop. Called only once every
        expected row has landed. A stateful query may still start a
        no-data batch to advance its watermark, so the stop waits for a
        moment with no batch running (a set-up cycle, which expects no
        rows, does not wait). An error raised while stopping (Spark's
        cancel path can throw on a stateful query) is stop-time noise: it
        neither counts as a failure nor replaces one."""
        deadline = time.time() + (10 if wait_idle else 0)
        while time.time() < deadline and (self.in_batch or self.query.status["isTriggerActive"]):
            time.sleep(0.02)
        self.stopping = True
        exc = self.query.exception()
        if exc is not None:
            self.b.ops.fail(f"{self.name}: query exception: {str(exc)[:300]}")
        try:
            with self.b.span("streaming.stop"):
                self.registry.stop(self.name)
        except Exception as e:  # noqa: BLE001 - stop-time noise, see docstring
            print(f"perfbench: ignored stop-time error: {str(e)[:200]}", file=sys.stderr)
        self.b.windows.append((self.t_started, time.time()))
        self.poll_progress()

    def batch_stats(self, ids=None) -> dict:
        """Progress figures of the batches ``ids`` (default: all)."""
        ps = [self.progress[k] for k in sorted(self.progress) if ids is None or k in ids]
        trig = [p["durationMs"].get("triggerExecution", 0) for p in ps]
        add = [p["durationMs"].get("addBatch", 0) for p in ps]
        lo = [p["durationMs"]["latestOffset"] for p in ps if "latestOffset" in p["durationMs"]]
        state = [s for p in ps for s in p.get("stateOperators") or []]
        last_state = (ps[-1].get("stateOperators") or []) if ps else []
        return {
            "batches": len(ps),
            "trigger_ms": trig,
            "overhead_ms": [t - a for t, a in zip(trig, add)],
            "latest_offset_ms": lo,
            "state_commit_ms": [s.get("commitTimeMs", 0) for s in state],
            "state_rows": sum(s.get("numRowsTotal", 0) for s in last_state),
            "state_instances": sum(s.get("numStateStoreInstances", 0) for s in last_state),
        }


def _streaming_layers(b: Bench, stats: list[dict], sink: list[dict]) -> None:
    """Per-layer metrics of the traced rounds of a streaming workload."""
    trig = [v for s in stats for v in s["trigger_ms"]]
    b.per_layer.update(
        {
            "streaming.batches": median([s["batches"] for s in stats]),
            "streaming.trigger_ms.p50": pct(trig, 50),
            "streaming.trigger_ms.p99": pct(trig, 99),
            "streaming.overhead_ms.p50": pct([v for s in stats for v in s["overhead_ms"]], 50),
            "streaming.state_rows": median([s["state_rows"] for s in stats]),
            "streaming.state_commit_ms.p50": pct(
                [v for s in stats for v in s["state_commit_ms"]], 50
            ),
            "streaming.state_instances": median([s["state_instances"] for s in stats]),
            "sinks.write_ms.p50": 1000 * median(b.tracer.durations("sinks.JsonLogSink")),
            "sinks.files": median([s["files"] for s in sink]),
            "sinks.bytes": median([s["bytes"] for s in sink]),
        }
    )


# --------------------------------------------------------------------------
# poll_drain
# --------------------------------------------------------------------------

# One burst is 20k records, a drain of about 4 s; a 300k-row log would
# drain in about 50 s, more than a whole run may take. fetch_page reads
# the whole file for every page, so its cost per page grows with the
# log: at these sizes the serial page reads are about 1.5 % of a drain
# (polling.page_read_share_pct), against about 20 % at 300k rows.
POLL_ROWS = 20_000
POLL_BURST_S = 3.5  # about one burst's drain: bursts per run = seconds / this
POLL_USERS = 5_000
POLL_NULL_PROPS = 0.2
POLL_PAGE_SIZE = 1000  # the options streaming_poll_source_scan uses
POLL_ROWS_PER_BATCH = 5000
POLL_LO_MS = T0_MS + 4 * DAY_MS  # 2024-01-05
POLL_HI_MS = T0_MS + 19 * DAY_MS  # 2024-01-20
POLL_TIMEOUT_S = 60


class PollQuery:
    """One ``paged_poll`` query over a log that grows in bursts. It
    starts on the empty log, so the source paces every batch to
    ``rows_per_batch`` (a query started on a full log takes it all in
    its first poll). ``sink`` is ``json`` (the pipeline) or ``noop``
    (source cost alone)."""

    def __init__(self, b: Bench, log: gen.PollLog, tag: str, sink: str = "json"):
        self.b, self.log, self.sink = b, log, sink
        d = os.path.join(b.work, tag)
        self.out, chk, self.live = (os.path.join(d, x) for x in ("out", "chk", "log.parquet"))
        os.makedirs(d)
        os.link(log.paths[0], self.live)
        self.published = 0
        self.t_pub: dict[int, float] = {}
        self.stream = stream = Stream(b, "poll_drain")
        spark, json_sink = b.spark, JsonLogSink(self.out)

        def write(df, batch_id):
            if sink == "json":
                with b.span("sinks.JsonLogSink"):
                    json_sink(df, batch_id)
            else:
                df.write.format("noop").mode("overwrite").save()

        def build():
            ev = (
                spark.readStream.format(polling.FORMAT_NAME)
                .option("path", self.live)
                .option("page_size", POLL_PAGE_SIZE)
                .option("rows_per_batch", POLL_ROWS_PER_BATCH)
                .load()
            )
            with b.span("plans.compile_payload"):
                df = compile_payload(
                    ev, contacts_poll_payload(POLL_LO_MS, POLL_HI_MS), time_columns=["ts"]
                )
            return (
                df.writeStream.foreachBatch(stream.wrap(write))
                .option("checkpointLocation", chk)
                .trigger(processingTime="0 seconds")
                .start()
            )

        stream.start(build)

    def live_wait(self) -> None:
        """Wait for the first (empty) batch: the query is live."""
        if not self.stream.wait(lambda: bool(self.stream.land and self.stream.progress), POLL_TIMEOUT_S):
            self.b.ops.fail("poll_drain: query not live: timed out or died")

    def burst(self) -> dict:
        """Publish the next burst at once and drain it."""
        stream, k = self.stream, self.published + 1
        with self.b.span("bench.burst", burst=k):
            os.link(self.log.paths[k], self.live + ".new")
            before = set(stream.land)
            t_pub = time.time()
            os.replace(self.live + ".new", self.live)
            self.published, self.t_pub[k] = k, t_pub
            end = {"cursor": k * self.log.rows}

            def drained():
                if not stream.progress:
                    return False
                last = stream.progress[max(stream.progress)]
                return _offset(last["sources"][0]["endOffset"]) == end

            done = stream.wait(drained, POLL_TIMEOUT_S)
        if done:
            self.b.ops.ok()
        else:
            self.b.ops.fail(f"poll_drain burst {k}: drain timed out or query died")
        new = [i for i in stream.progress if i not in before and stream.progress[i]["numInputRows"]]
        return {
            "burst": k,
            "batches": new,
            "drain_s": max(stream.land[i] for i in new) - t_pub if done else float("nan"),
            "pages": sum(_pages(stream.progress[i]["sources"][0]) for i in new),
        }

    def finish(self) -> dict:
        """Stop; check the sink against the payload evaluated by pyarrow
        on everything published; per-record latency of each burst, from
        its publication to its batch's sink call returning."""
        self.stream.stop()
        if self.sink != "json":
            return {}
        rows, size = checks.read_sink(self.out)
        expected = checks.poll_expected(self.log.paths[self.published], POLL_LO_MS, POLL_HI_MS)
        self.b.ops.check(
            "poll_drain sink output",
            checks.poll_fingerprint_sink(rows) == checks.poll_fingerprint_expected(expected),
            f"({len(rows)} rows)",
        )
        latency: dict[int, list[float]] = {}
        for r in rows:
            k = r["event_id"] // self.log.rows + 1
            latency.setdefault(k, []).append(self.stream.land[r["_batch"]] - self.t_pub[k])
        return {"latency": latency, "files": len(os.listdir(self.out)), "bytes": size}


def _pages(src: dict) -> int:
    """Pages the partitioned reader planned for one batch."""
    lo = (_offset(src["startOffset"]) or {"cursor": 0})["cursor"]
    return math.ceil((_offset(src["endOffset"])["cursor"] - lo) / POLL_PAGE_SIZE)


def _poll_setup(b: Bench, log: gen.PollLog, i: int) -> float:
    """Set-up cycle: new session, source registered, query started on
    the empty log; stopped with nothing to land."""
    session_s = b.new_session()
    t0 = time.perf_counter()
    with b.span("polling.register"):
        polling.register(b.spark)
    q = PollQuery(b, log, f"setup{i}")
    setup_s = session_s + time.perf_counter() - t0
    # The query is stopped while still initialising: waiting for its
    # source's Python runner would cost seconds a cycle. The runner then
    # logs a connection timeout (CANNOT_OPEN_SOCKET), which is stop-time
    # noise.
    q.stream.stop(wait_idle=False)
    b.ops.ok()
    return setup_s


def poll_drain(b: Bench) -> dict:
    n_bursts = max(3, round(b.seconds / POLL_BURST_S)) if not b.trace else 4
    log = gen.write_poll_log(
        np.random.default_rng([b.seed, 1]),
        b.work,
        1 + n_bursts,  # the first burst warms up
        POLL_ROWS,
        POLL_USERS,
        POLL_NULL_PROPS,
    )
    b.record["inputs"] = {
        **log.props,
        "window": "2024-01-05..2024-01-20 BETWEEN + HAS_PROPERTY(props)",
        "page_size": POLL_PAGE_SIZE,
        "rows_per_batch": POLL_ROWS_PER_BATCH,
        "loop": "closed, one live streaming query; each burst is published at once and drained",
    }
    setup_s = b.setup_cycles(lambda i: _poll_setup(b, log, i))
    q = PollQuery(b, log, "drain")
    q.live_wait()
    q.burst()
    b.mark("warmup")
    # a traced run traces every other burst
    flags = [bool(b.trace and i % 2) for i in range(n_bursts)]
    bursts = []
    for flag in flags:
        b.tracer.enabled = flag
        bursts.append({**q.burst(), "traced": flag})
    b.tracer.enabled = False
    b.mark("measured")
    b.windows.append((b.marks["warmup"], b.marks["measured"]))
    res = q.finish()
    for r in bursts:
        r["latency"] = res["latency"].get(r["burst"], [])
    b.record["rounds"] = [{k: r[k] for k in ("drain_s", "pages", "traced")} for r in bursts]
    untraced = [r for r in bursts if not r["traced"]]
    traced = [r for r in bursts if r["traced"]]
    if b.trace:
        b.tracer.enabled = True
        transport = polling.ParquetPageTransport(log.paths[1])
        for where, start in (("head", 0), ("tail", log.rows - POLL_PAGE_SIZE)):
            for _ in range(5):
                with b.span(f"polling.fetch_page.{where}"):
                    transport.fetch_page(start, POLL_PAGE_SIZE)
        b.tracer.enabled = False
        noop = PollQuery(b, log, "noop", sink="noop")
        noop.live_wait()
        noop_s = noop.burst()["drain_s"]
        noop.finish()
        b.new_session(cpus=1)
        polling.register(b.spark)
        local1 = PollQuery(b, log, "local1")
        local1.live_wait()
        local1_s = local1.burst()["drain_s"]
        local1.finish()
        stats = [q.stream.batch_stats({i for r in traced for i in r["batches"]})]
        _streaming_layers(b, stats, [res])
        fetch_ms = {
            w: 1000 * median(b.tracer.durations(f"polling.fetch_page.{w}")) for w in ("head", "tail")
        }
        pages = median([r["pages"] for r in traced])
        drain_s = median([r["drain_s"] for r in traced])
        b.per_layer.update(
            {
                "polling.fetch_page_ms.head": fetch_ms["head"],
                "polling.fetch_page_ms.tail": fetch_ms["tail"],
                "polling.pages": pages,
                # serial page reads of one burst, as a share of its drain
                "polling.page_read_share_pct": 0.1 * pages * (fetch_ms["head"] + fetch_ms["tail"]) / 2 / drain_s,
                "polling.latest_offset_ms.p50": pct(stats[0]["latest_offset_ms"], 50),
                "polling.drain_noop_s": noop_s,
                "baseline.local1_rows_per_s": log.rows / local1_s,
                "trace.overhead_pct": _overhead(
                    [r["drain_s"] for r in untraced], [r["drain_s"] for r in traced]
                ),
            }
        )
    return {
        "setup_s": setup_s,
        "rows_per_s": median([log.rows / r["drain_s"] for r in untraced]),
        **_latency(b, [r["latency"] for r in untraced]),
    }


def _latency(b: Bench, per_round: list) -> dict:
    """Median over bursts (or the one window) of their latency
    percentiles."""
    b.record["latency_samples"] = [len(x) for x in per_round]
    return {
        "latency_p50_s": median([pct(x, 50) for x in per_round]),
        "latency_p99_s": median([pct(x, 99) for x in per_round]),
    }


def _overhead(untraced: list[float], traced: list[float]) -> float:
    """Tracing overhead: traced minus untraced median, % of untraced."""
    return 100.0 * (median(traced) - median(untraced)) / median(untraced)


# --------------------------------------------------------------------------
# stream_upsert
# --------------------------------------------------------------------------

UPSERT_USERS = 50_000
UPSERT_SKEW = 1.1  # Zipf exponent of user_id
UPSERT_LATE_SHARE = 0.1
UPSERT_LATE_MAX_S = 60  # event-time back-shift; the watermark is 10 minutes
UPSERT_REEMIT_SHARE = 0.05
UPSERT_NULL_PROPS = 0.2
UPSERT_WARM_FILES = 2  # warm-up backlog, drained first
UPSERT_BACKLOG_FILES = 10  # one full batch of the capacity backlog
UPSERT_FILE_ROWS = 500
# the open-loop phase's 2 files/s stay far under this cap, so it never
# throttles that phase
UPSERT_MAX_FILES_PER_TRIGGER = 10
UPSERT_RATE = 170  # events/s of the open-loop phase, well under capacity
UPSERT_PERIOD_S = 0.5
UPSERT_WARM_S = 4.0  # open-loop time before latency is recorded
# 1700 events, seventeen beyond the p99: with fewer, p99 rests on a
# few files and spreads widely from run to run
UPSERT_MIN_PHASE_S = 10.0
# a traced run's open-loop window: long enough for several traced and
# untraced batches, which give the tracing overhead
UPSERT_TRACED_PHASE_S = 20.0
UPSERT_DRAIN_BATCHES = 2  # the capacity drain spans this many full batches
UPSERT_DRAIN_S = 10.0  # about what the capacity drain takes
UPSERT_TIMEOUT_S = 60
# a set-up here is under 0.5 s and cheap to repeat, so one more
UPSERT_SETUPS = 4
UPSERT_SCHEMA = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING, sched_ms BIGINT"
)
STORE_COLS = ["user_id", "event_id", "event_type", "value", "ts"]


def _upsert_round(b: Bench, tag: str, sub: int, phase_s: float, alternate: bool = False) -> dict:
    """One query through four phases: drain a pre-filled backlog
    (warm-up), run the open-loop writer for ``UPSERT_WARM_S`` (warm-up)
    then ``phase_s`` seconds (latency), drop a backlog of
    ``UPSERT_DRAIN_BATCHES`` batches at once and drain it (capacity),
    stop. With ``phase_s == 0`` the round is a set-up cycle: a new
    session and a query on an empty directory, stopped with nothing to
    land. Rounds with the same ``sub`` see the same events. With
    ``alternate`` every other batch is traced."""
    setup_only = not phase_s
    d = os.path.join(b.work, tag)
    in_dir, chk, out = (os.path.join(d, x) for x in ("in", "chk", "out"))
    store_root = os.path.join(d, "store")
    store_cur = os.path.join(store_root, "current")
    for x in (in_dir, store_root):
        os.makedirs(x)
    src = gen.UpsertStream(
        [b.seed, sub],
        UPSERT_USERS,
        UPSERT_SKEW,
        UPSERT_LATE_SHARE,
        UPSERT_LATE_MAX_S,
        UPSERT_REEMIT_SHARE,
        UPSERT_NULL_PROPS,
    )

    def backlog(files: int) -> int:
        now_ms = int(time.time() * 1000)
        return sum(src.write_file(in_dir, UPSERT_FILE_ROWS, now_ms) for _ in range(files))

    sent = 0 if setup_only else backlog(UPSERT_WARM_FILES)
    with b.span("round", workload="stream_upsert", tag=tag):
        session_s = b.new_session() if setup_only else 0.0
        t0 = time.perf_counter()
        spark = b.spark
        stream = Stream(b, "stream_upsert")
        stream.alternate = alternate
        sink = JsonLogSink(out)

        def upsert(df, batch_id):
            df.persist()
            try:
                with b.span("stores.merge"):
                    merged = df.select(*STORE_COLS)
                    if os.path.exists(store_cur):
                        merged = spark.read.parquet(store_cur).select(*STORE_COLS).unionByName(merged)
                    tmp = os.path.join(store_root, f"tmp_{batch_id}")
                    reference_ops.changelog_latest_state(merged).write.mode("overwrite").parquet(tmp)
                with b.span("stores.swap_dir"):
                    stores.swap_dir(tmp, store_cur)
                with b.span("sinks.JsonLogSink"):
                    sink(df, batch_id)
            finally:
                df.unpersist()

        def build():
            ev = (
                spark.readStream.schema(UPSERT_SCHEMA)
                .option("maxFilesPerTrigger", UPSERT_MAX_FILES_PER_TRIGGER)
                .parquet(in_dir)
            )
            return (
                ev.withWatermark("ts", "10 minutes")
                .dropDuplicatesWithinWatermark(["event_id"])
                .writeStream.foreachBatch(stream.wrap(upsert))
                .option("checkpointLocation", chk)
                .start()
            )

        stream.start(build)
        setup_s = session_s + time.perf_counter() - t0
        if setup_only:
            stream.stop()
            b.ops.ok()
            return {"setup_s": setup_s}

        def landed(n: int) -> bool:
            return stream.wait(lambda: stream.input_rows() >= n, UPSERT_TIMEOUT_S)

        ok = landed(sent)
        b.mark("upsert.warm_drained")
        writer = gen.OpenLoopWriter(src, in_dir, UPSERT_RATE, UPSERT_PERIOD_S, UPSERT_WARM_S + phase_s)
        if ok:
            writer.start()
            writer.join(UPSERT_WARM_S + phase_s + UPSERT_TIMEOUT_S)
            b.mark("upsert.writer_done")
            ok = writer.error is None and landed(sent + writer.rows)
        b.mark("upsert.open_loop_landed")
        sent += writer.rows
        drain_s, b_rows = float("nan"), 0
        if ok:
            last = max(stream.land)
            t_b = time.time()
            b_rows = backlog(UPSERT_BACKLOG_FILES * UPSERT_DRAIN_BATCHES)
            ok = landed(sent + b_rows)
            sent += b_rows
            drain_s = max(stream.land[k] for k in stream.land if k > last) - t_b if ok else drain_s
        b.mark("upsert.capacity_drained")
        stream.stop()
        b.mark("upsert.stopped")
    if ok:
        b.ops.ok()
    else:
        b.ops.fail(f"stream_upsert {tag}: drain timed out, query died or writer failed ({writer.error})")
    events = src.all_events()
    b.ops.check(
        f"stream_upsert {tag} store",
        os.path.exists(store_cur)
        and checks.latest_state_store(store_cur) == checks.latest_state_expected(events),
    )
    rows, size = checks.read_sink(out)
    sent_ids = np.unique(events["event_id"].to_numpy())
    got_ids = np.sort(np.array([r["event_id"] for r in rows], dtype=np.int64))
    b.ops.check(
        f"stream_upsert {tag} sink ids",
        np.array_equal(sent_ids, got_ids),
        f"({len(got_ids)} rows for {len(sent_ids)} distinct events)",
    )
    # per event of the measured open-loop window: due time -> its
    # batch's sink return
    lo_ms = (writer.start_wall + UPSERT_WARM_S) * 1000
    hi_ms = (writer.start_wall + UPSERT_WARM_S + phase_s) * 1000
    latency = np.array(
        [
            stream.land.get(r["_batch"], np.nan) - r["sched_ms"] / 1000
            for r in rows
            if lo_ms <= r["sched_ms"] < hi_ms
        ]
    )
    # trigger time of the open-loop window's batches, traced (odd) vs not
    trig = {True: [], False: []}
    for k, p in stream.progress.items():
        if p["numInputRows"] and lo_ms / 1000 <= stream.land.get(k, 0) <= hi_ms / 1000 + 5:
            trig[k % 2 == 1].append(p["durationMs"]["triggerExecution"])
    return {
        "drain_s": drain_s,
        "backlog_rows": b_rows,
        "latency": latency,
        "lag_max_s": writer.lag_max_s,
        "overhead_pct": _overhead(trig[False], trig[True]) if alternate and all(trig.values()) else float("nan"),
        "stats": stream.batch_stats(),
        "files": len(os.listdir(out)) if os.path.isdir(out) else 0,
        "bytes": size,
        "state_bytes": sum(
            os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(store_cur) for f in fs
        ),
    }


def stream_upsert(b: Bench) -> dict:
    # the open-loop window takes what --seconds leaves beside the
    # capacity drain, but never fewer events than the p99 needs
    phase_s = max(UPSERT_MIN_PHASE_S, b.seconds - UPSERT_DRAIN_S)
    if b.trace:
        phase_s = UPSERT_TRACED_PHASE_S
    b.record["inputs"] = {
        "users": UPSERT_USERS,
        "key_skew": f"zipf s={UPSERT_SKEW}",
        "late_share": UPSERT_LATE_SHARE,
        "late_max_s": UPSERT_LATE_MAX_S,
        "reemit_share": UPSERT_REEMIT_SHARE,
        "null_props_share": UPSERT_NULL_PROPS,
        "backlog_events": {
            "warm-up": UPSERT_WARM_FILES * UPSERT_FILE_ROWS,
            "capacity": UPSERT_DRAIN_BATCHES * UPSERT_BACKLOG_FILES * UPSERT_FILE_ROWS,
        },
        "max_files_per_trigger": UPSERT_MAX_FILES_PER_TRIGGER,
        "rate_events_per_s": UPSERT_RATE,
        "open_loop_s": {"warm-up": UPSERT_WARM_S, "measured": phase_s},
        "loop": "open, one writer thread, one file per 0.5 s",
    }
    setup_s = b.setup_cycles(
        lambda i: _upsert_round(b, f"setup{i}", 3, 0.0)["setup_s"], UPSERT_SETUPS
    )
    b.mark("warmup")
    # exactly one measured round; a traced run traces every other batch
    r = _upsert_round(b, "r0", 2, phase_s, alternate=b.trace)
    b.tracer.enabled = False
    b.mark("measured")
    b.record["rounds"] = [{k: r[k] for k in ("drain_s", "backlog_rows", "lag_max_s")}]
    if b.trace:
        _streaming_layers(b, [r["stats"]], [r])
        b.per_layer.update(
            {
                "stores.merge_ms.p50": 1000 * median(b.tracer.durations("stores.merge")),
                "stores.swap_ms.p50": 1000 * median(b.tracer.durations("stores.swap_dir")),
                "stores.state_bytes": r["state_bytes"],
                "trace.overhead_pct": r["overhead_pct"],
            }
        )
    return {
        "setup_s": setup_s,
        "rows_per_s": r["backlog_rows"] / r["drain_s"],
        **_latency(b, [r["latency"]]),
        "lag_max_s": r["lag_max_s"],
    }


WORKLOADS = {"poll_drain": poll_drain, "stream_upsert": stream_upsert}
