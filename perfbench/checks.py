"""Correctness checks, run outside the timed path.

Each compares the program's output with a result computed directly
from the generated inputs by pyarrow or DuckDB, through the
repository's order-insensitive ``frame_fingerprint``.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import re

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from kinesis_dstream_spark.testing import frame_fingerprint

_EPOCH = dt.datetime(1970, 1, 1)
_BATCH_FILE = re.compile(r"batch-(\d+)-part-\d+\.jsonl$")


def ts_text_to_us(text: str) -> int:
    """``str(datetime)`` as written by the JSON sink -> epoch µs (UTC)."""
    d = dt.datetime.fromisoformat(text).replace(tzinfo=None)
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def read_sink(out_dir: str) -> tuple[list[dict], int]:
    """Rows written by ``JsonLogSink``, each tagged with its batch id;
    total bytes."""
    rows: list[dict] = []
    size = 0
    for path in sorted(glob.glob(os.path.join(out_dir, "batch-*.jsonl"))):
        bid = int(_BATCH_FILE.search(path).group(1))
        size += os.path.getsize(path)
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                r["_batch"] = bid
                rows.append(r)
    return rows, size


def poll_expected(log_path: str, lo_ms: int, hi_ms: int) -> pa.Table:
    """The contacts payload (ts BETWEEN lo AND hi, props IS NOT NULL,
    projection) evaluated by pyarrow on the generated log."""
    t = pq.read_table(log_path)
    ts = pc.cast(t["ts"], pa.int64())
    keep = pc.and_(
        pc.and_(pc.greater_equal(ts, lo_ms * 1000), pc.less_equal(ts, hi_ms * 1000)),
        pc.is_valid(t["props"]),
    )
    return t.filter(keep).select(["event_id", "ts", "user_id", "event_type"])


def poll_fingerprint_expected(expected: pa.Table) -> str:
    cols = ["event_id", "ts", "user_id", "event_type"]
    ts = pc.cast(expected["ts"], pa.int64()).to_pylist()
    rows = list(
        zip(
            expected["event_id"].to_pylist(),
            ts,
            expected["user_id"].to_pylist(),
            expected["event_type"].to_pylist(),
        )
    )
    return frame_fingerprint(cols, rows)


def poll_fingerprint_sink(rows: list[dict]) -> str:
    cols = ["event_id", "ts", "user_id", "event_type"]
    return frame_fingerprint(
        cols,
        [(r["event_id"], ts_text_to_us(r["ts"]), r["user_id"], r["event_type"]) for r in rows],
    )


_LATEST_SQL = """
SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM (SELECT DISTINCT event_id, ts, user_id, event_type, value FROM ev)
) WHERE rn = 1
"""


def latest_state_expected(events: pa.Table) -> str:
    """Latest row per user over the distinct generated events, by DuckDB."""
    con = duckdb.connect()
    try:
        con.register("ev", events.drop_columns(["props", "sched_ms"]))
        res = con.execute(_LATEST_SQL)
        return frame_fingerprint([d[0] for d in res.description], res.fetchall())
    finally:
        con.close()


def latest_state_store(store_path: str) -> str:
    t = pq.read_table(store_path)
    rows = zip(
        t["user_id"].to_pylist(),
        t["event_id"].to_pylist(),
        t["event_type"].to_pylist(),
        t["value"].to_pylist(),
        pc.cast(t["ts"], pa.int64()).to_pylist(),
    )
    return frame_fingerprint(["user_id", "event_id", "event_type", "value", "ts_us"], list(rows))
