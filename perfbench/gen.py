"""Seeded input generators for the benchmark workloads.

Everything the program under test reads is written here from a
``numpy.random.Generator`` seeded by ``--seed``: the same seed gives
byte-identical inputs. The program sees only the generated files.

Shapes mirror the repository's ``events`` fixture table (FIXTURES.md):
change records shaped like HubSpot's (``props`` is a nullable JSON
string, ``ts`` the event time).
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "view", "signup", "purchase", "error"])
# Event-time origin of every generated log (the fixture's month).
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int, s: float) -> np.ndarray:
    """``n`` draws from a bounded Zipf(s) over ``[0, n_keys)``."""
    p = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** s
    p /= p.sum()
    return rng.choice(n_keys, size=n, p=p).astype(np.int64)


def events_table(
    rng: np.random.Generator,
    event_ids: np.ndarray,
    ts_us: np.ndarray,
    user_ids: np.ndarray,
    null_props_share: float,
) -> pa.Table:
    """Event rows with UTC timestamps."""
    n = len(event_ids)
    k = rng.integers(0, 100, size=n)
    props = np.array([f'{{"k": {v}}}' for v in k], dtype=object)
    props[rng.random(n) < null_props_share] = None
    return pa.table(
        {
            "event_id": pa.array(event_ids, pa.int64()),
            "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(user_ids, pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, size=n)]),
            "value": pa.array(np.round(rng.uniform(0.01, 490.0, size=n), 2)),
            "props": pa.array(props, pa.string()),
        },
        schema=EVENTS_SCHEMA,
    )


# --------------------------------------------------------------------------
# poll_drain: one parquet event log behind the paged_poll source
# --------------------------------------------------------------------------


@dataclass
class PollLog:
    """The log a live poller sees grow in bursts: ``paths[k]`` holds the
    first ``k`` bursts of ``rows`` records (``paths[0]`` is empty)."""

    paths: list[str]
    rows: int  # records per burst
    props: dict = field(default_factory=dict)


def write_poll_log(
    rng: np.random.Generator, directory: str, bursts: int, rows: int, n_users: int, null_props_share: float
) -> PollLog:
    """Change records, one parquet file per prefix (the paged_poll
    transport pages through a single file). Each burst spans the same
    month in event-time order, so every burst meets the payload's window
    alike; event ids run on across bursts."""
    chunks = []
    for k in range(bursts):
        ts = T0_US + np.sort(rng.integers(0, 30 * 86_400_000_000, size=rows))
        users = zipf_keys(rng, rows, n_users, 1.1)
        ids = np.arange(k * rows, (k + 1) * rows, dtype=np.int64)
        chunks.append(events_table(rng, ids, ts, users, null_props_share))
    log = pa.concat_tables(chunks)
    paths = []
    for k in range(bursts + 1):
        paths.append(os.path.join(directory, f"log-{k}.parquet"))
        pq.write_table(log.slice(0, k * rows), paths[-1])
    return PollLog(
        paths,
        rows,
        {
            "burst_rows": rows,
            "bursts": bursts,
            "users": n_users,
            "key_skew": "zipf s=1.1",
            "null_props_share": null_props_share,
            "log_bytes": os.path.getsize(paths[-1]),
        },
    )


# --------------------------------------------------------------------------
# stream_upsert: a stream of parquet files, pre-filled backlog + open loop
# --------------------------------------------------------------------------

class UpsertStream:
    """Event source for ``stream_upsert``.

    Event ``i`` has event time ``T0 + i * step`` minus, for a ``late``
    share, a back-shift of up to ``late_max_s`` (out of order, always
    inside the query's watermark). Each file also carries exact copies
    of a ``reemit`` share of the previous file's rows (the reference
    re-emits a record whenever its poll windows overlap). Every row
    carries ``sched_ms``: the wall time at which its file was due.
    """

    def __init__(
        self,
        seed: list[int],
        n_users: int,
        key_skew: float,
        late_share: float,
        late_max_s: float,
        reemit_share: float,
        null_props_share: float,
    ):
        self.rng = np.random.default_rng(seed)
        self.n_users = n_users
        self.key_skew = key_skew
        self.late_share = late_share
        self.late_max_us = int(late_max_s * 1e6)
        self.reemit_share = reemit_share
        self.null_props_share = null_props_share
        self.next_id = 0
        self.sent: list[pa.Table] = []  # every file's rows, for the checks
        self.files = 0

    def _batch(self, n: int, sched_ms: int) -> pa.Table:
        rng = self.rng
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        ts = T0_US + ids * 50_000  # 20 events per event-time second
        late = rng.random(n) < self.late_share
        ts[late] -= rng.integers(1, self.late_max_us, size=int(late.sum()))
        users = zipf_keys(rng, n, self.n_users, self.key_skew)
        t = events_table(rng, ids, ts, users, self.null_props_share)
        n_dup = int(round(n * self.reemit_share))
        if n_dup and self.sent:
            # re-emit recent records verbatim (same event_id and ts)
            prev = self.sent[-1]
            pick = rng.integers(0, prev.num_rows, size=min(n_dup, prev.num_rows))
            t = pa.concat_tables([t, prev.take(pick).drop_columns(["sched_ms"])])
        t = t.append_column(
            "sched_ms", pa.array(np.full(t.num_rows, sched_ms, np.int64))
        )
        return t

    def write_file(self, directory: str, n: int, sched_ms: int) -> int:
        t = self._batch(n, sched_ms)
        self.sent.append(t)
        name = f"part-{self.files:06d}.parquet"
        self.files += 1
        tmp = os.path.join(directory, "." + name + ".tmp")
        # the file source lists the directory: publish by atomic rename
        pq.write_table(t, tmp)
        os.replace(tmp, os.path.join(directory, name))
        return t.num_rows

    def all_events(self) -> pa.Table:
        return pa.concat_tables(self.sent)


class OpenLoopWriter(threading.Thread):
    """Writes one file every ``period_s`` on a fixed wall-clock schedule
    that never waits for the engine: file ``k`` is due at
    ``start + k * period_s``. ``lag_max_s`` records how late it ran."""

    def __init__(self, stream: UpsertStream, directory: str, rate: float, period_s: float, duration_s: float):
        super().__init__(name="open-loop-writer", daemon=True)
        self.stream = stream
        self.directory = directory
        self.per_file = max(1, int(round(rate * period_s)))
        self.period_s = period_s
        self.n_files = int(duration_s / period_s)
        self.lag_max_s = 0.0
        self.rows = 0
        self.error: Exception | None = None
        self.start_wall = 0.0

    def run(self) -> None:
        try:
            self.start_wall = time.time()
            for k in range(self.n_files):
                due = self.start_wall + k * self.period_s
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                self.rows += self.stream.write_file(
                    self.directory, self.per_file, int(due * 1000)
                )
                self.lag_max_s = max(self.lag_max_s, time.time() - due)
        except Exception as e:  # the caller reports it as a failure
            self.error = e
