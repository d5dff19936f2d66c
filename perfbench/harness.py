"""Measurement plumbing shared by the workloads: spans, failure
accounting, memory sampling, host-noise record and percentiles.

Nothing here reaches into the program: spans are recorded around calls
the benchmark makes into the program's public functions, and memory is
read from ``/proc``.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import uuid

import numpy as np


def pct(values, q: float) -> float:
    """``q``-th percentile (0-100) of ``values``; 0.0 when empty."""
    return float(np.percentile(np.asarray(values, dtype=np.float64), q)) if len(values) else 0.0


def median(values) -> float:
    return pct(values, 50)


class Tracer:
    """In-memory spans: name, start, end, parent and run id.

    Disabled tracers record nothing (untraced runs pay one attribute
    test per call). Spans opened on another thread, such as the
    ``foreachBatch`` callback thread, name their parent explicitly.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def current(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "parent": parent if parent is not None else (stack[-1] if stack else None),
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec["id"]
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        """Seconds of every finished span called ``name``."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def self_time_by_layer(self) -> dict[str, float]:
        """Seconds per layer (first dotted component of the span name)
        not covered by the span's children."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if not s["end"]:
                continue
            covered, lo_hi = 0.0, sorted(
                (max(c["start"], s["start"]), min(c["end"] or s["end"], s["end"]))
                for c in children.get(s["id"], [])
            )
            cur_lo = cur_hi = None
            for lo, hi in lo_hi:  # union of child intervals
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "self_time_s": self.self_time_by_layer(),
                    "spans": self.spans,
                },
                f,
            )


class Ops:
    """Failure accounting: every attempted operation and every failure.

    An operation is a micro-batch, a batch query, a streaming drain or a
    correctness check. A micro-batch that raises, a query whose
    ``exception()`` is set, a drain that times out and a mismatch each
    count as one failure.
    """

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self._lock = threading.Lock()

    def ok(self, n: int = 1) -> None:
        with self._lock:
            self.attempted += n

    def fail(self, what: str) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += 1
            self.notes.append(what)

    def check(self, what: str, passed: bool, detail: str = "") -> bool:
        if passed:
            self.ok()
        else:
            self.fail(f"mismatch: {what} {detail}".strip())
        return passed


def _parents() -> dict[int, int]:
    """pid -> parent pid of every process."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return parent


def descendants(pid: int, parent: dict[int, int] | None = None) -> list[int]:
    kids: dict[int, list[int]] = {}
    for c, p in (parent or _parents()).items():
        kids.setdefault(p, []).append(c)
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Resident memory of this process and all its descendants (the JVM
    and its Python workers), sampled from ``/proc``."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self, period_s: float = 0.25):
        super().__init__(name="rss-sampler", daemon=True)
        self.period_s = period_s
        self.samples: list[tuple[float, int, list]] = []
        self._stop_evt = threading.Event()

    def sample(self) -> tuple[int, list]:
        """Total resident bytes, and (name, MiB) per process."""
        me, parent = os.getpid(), _parents()
        procs = {}
        for p in [me, *descendants(me, parent)]:
            try:
                exe = os.readlink(f"/proc/{p}/exe")
                with open(f"/proc/{p}/comm") as f:
                    comm = f.read().strip()
                with open(f"/proc/{p}/statm") as f:
                    procs[p] = (comm, int(f.read().split()[1]) * self.PAGE, exe)
            except OSError:
                pass
        # The JVM starts helpers (readlink, chmod, Python workers) by
        # spawning a copy of itself that shares its memory until exec;
        # counting that copy would double the JVM.
        kept = [
            (c, b) for p, (c, b, exe) in procs.items()
            if not (exe.endswith("/java") and procs.get(parent.get(p), (0, 0, ""))[2] == exe)
        ]
        return sum(b for _, b in kept), [(c, round(b / 2**20)) for c, b in kept]

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.samples.append((time.time(), *self.sample()))
            self._stop_evt.wait(self.period_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(5)

    def peak(self, windows: list[tuple[float, float]]) -> tuple[float, list]:
        """Peak MiB over the samples taken inside any of ``windows``, and
        the processes of that sample."""
        inside = [s for s in self.samples if any(a <= s[0] <= z for a, z in windows)]
        _, total, procs = max(inside, key=lambda s: s[1], default=(0, 0, []))
        return total / 2**20, procs


def cpu_calibration_ms() -> float:
    """Fastest of seven timings of a fixed pure-Python loop: the host's
    single-core speed at this moment (interference only slows a timing
    down, so the fastest is the steadiest). It does not depend on the
    program."""
    times = []
    for _ in range(7):
        t0 = time.perf_counter()
        s = 0
        for i in range(300_000):
            s += i * i
        times.append(time.perf_counter() - t0)
    return 1000 * min(times)


def foreign_jvms() -> int:
    """Java processes on the host that this run did not start, such as
    a JVM left over from an earlier run."""
    mine = set(descendants(os.getpid()))
    n = 0
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) not in mine:
            try:
                with open(f"/proc/{d}/comm") as f:
                    n += f.read().strip() == "java"
            except OSError:
                pass
    return n


def cpu_times() -> list[int]:
    """Host CPU time counters (user, nice, system, idle, iowait, irq,
    softirq, steal), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_pct(start: list[int], end: list[int]) -> float:
    """Share of host CPU time the hypervisor gave to other machines
    between two ``cpu_times`` readings."""
    d = [b - a for a, b in zip(start, end)]
    return 100.0 * d[7] / max(1, sum(d))


def host_record(nproc: int) -> dict:
    return {
        "cpu_times": cpu_times(),
        "loadavg": list(os.getloadavg()),
        "nproc": nproc,
        "cpu_calib_ms": cpu_calibration_ms(),
        "foreign_jvms": foreign_jvms(),
        "time": time.time(),
    }
