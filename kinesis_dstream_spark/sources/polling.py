"""A paginated "poll" data source on the Python Data Source API.

The reference's only custom component is its source: an incremental,
paginated poller (``app/hs_contacts.py:51-126``) that fetches pages of
100 rows with a cursor and tumbles an event-time window forward
(``:139-147``). This module re-expresses that as a first-class Spark
source:

- **batch**: ``spark.read.format("paged_poll")`` — each *page* becomes an
  input partition, so what the reference fetched serially Spark scans in
  parallel. The page size is the reference's ``limit`` knob.
- **streaming**: ``spark.readStream.format("paged_poll")`` — micro-batch
  offsets are row cursors (the reference's ``(window_end, after)`` pair
  collapses to a monotone row offset over the replayed event log);
  ``rows_per_batch`` emulates ``maxOffsetsPerTrigger``-style rate control
  (the Spark upgrade of the reference's sleep-based backpressure, O-10).
  The reader plans page-grained partitions per micro-batch and fetches
  on the EXECUTORS (``DataSourceStreamReader`` — the shape that
  survives 100×: shards ≅ partitions); the driver never prefetches.

The "remote API" sits behind a picklable transport seam. The default
transport reads a local parquet file via pyarrow (the container has no
network); an HTTP implementation swaps ``ParquetPageTransport`` for a
request-backed one and keeps everything else. The error taxonomy
mirrors the reference's branch structure (``app/hs_contacts.py:106-137``):
transport/network failures and RATE_LIMIT responses retry the same page
(bounded exponential backoff here — the reference slept 10 s forever),
5xx responses back off the same way, and any other HTTP error is fatal
and raises immediately. ``FlakyTransport`` scripts those failures
deterministically for tests.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

FORMAT_NAME = "paged_poll"
DEFAULT_PAGE_SIZE = 100  # the reference's limit=100 (app/hs_contacts.py:101)


# --------------------------------------------------------------------------
# error taxonomy + retry (reference O-10, app/hs_contacts.py:106-137)
# --------------------------------------------------------------------------


class PollError(Exception):
    """Base for classified poll-source errors."""


class RateLimitError(PollError):
    """Remote said RATE_LIMIT: retryable, same page (reference :129-133)."""


class TransientHTTPError(PollError):
    """5xx-style remote failure: retryable with backoff."""


class FatalPollError(PollError):
    """4xx-style remote failure: never retried (reference :134-137 raises)."""


# Bounded attempts with exponential backoff inside the reader — the Spark
# upgrade of the reference's sleep-10-forever loop. Beyond the budget,
# task retry (spark.task.maxFailures) and streaming checkpoint/restart
# take over, replaying from the committed offset instead of losing data.
FETCH_MAX_ATTEMPTS = 3
FETCH_BACKOFF_S = 0.2
_RETRYABLE = (OSError, IOError, RateLimitError, TransientHTTPError)


def _fetch_with_retry(fetch, max_attempts: int = FETCH_MAX_ATTEMPTS):
    """Run ``fetch()`` with bounded exponential-backoff retries on
    transient errors (network, RATE_LIMIT, 5xx); fatal errors raise
    immediately — the reference's fatal-vs-retryable branch."""
    import time as _time

    last = None
    for attempt in range(max_attempts):
        try:
            return fetch()
        except FatalPollError:
            raise
        except _RETRYABLE as e:
            last = e
            if attempt + 1 < max_attempts:
                _time.sleep(FETCH_BACKOFF_S * (2**attempt))
    raise last


# --------------------------------------------------------------------------
# transports: the injectable "remote API"
# --------------------------------------------------------------------------


def _normalize_tz(table):
    """Spark's Python row/arrow converters require tz-aware datetimes; the
    fixture's ns timestamps are tz-naive → cast to µs UTC (ns→µs
    truncation matches the engine-wide convention, see tables.py)."""
    import pyarrow as pa

    for i, field in enumerate(table.schema):
        if pa.types.is_timestamp(field.type) and field.type.tz is None:
            table = table.set_column(
                i,
                pa.field(field.name, pa.timestamp("us", tz="UTC")),
                table.column(i).cast(pa.timestamp("us", tz="UTC"), safe=False),
            )
    return table


class ParquetPageTransport:
    """Local-parquet stand-in for the remote HTTP API (no network in the
    container). Picklable: ships to executors inside the reader so page
    fetches happen executor-side. An HTTP transport implements the same
    two methods with a requests call, classifying the response into the
    PollError taxonomy."""

    def __init__(self, path: str):
        self.path = path

    def total_rows(self) -> int:
        """The remote's current high-water mark — NOT memoized, so a
        growing source keeps advancing (polled once per offset poll)."""
        import pyarrow.parquet as pq

        return pq.read_metadata(self.path).num_rows

    def fetch_page(self, start: int, n: int):
        """Rows [start, start+n) as an arrow table."""
        import pyarrow.parquet as pq

        return _normalize_tz(pq.read_table(self.path).slice(start, n))


class FlakyTransport:
    """Deterministic fault-injection wrapper for tests.

    ``script`` is a comma-separated token list consumed one per
    ``fetch_page`` call: ``ok`` delegates, ``rate_limit`` raises
    RateLimitError, ``http_5xx`` raises TransientHTTPError, ``io_error``
    raises OSError, ``http_4xx`` raises FatalPollError. When the script
    is exhausted every call is ``ok``. State is per-instance — each
    pickled executor copy replays its own script, so every partition
    exercises the same branch sequence deterministically.
    """

    _RAISES = {
        "rate_limit": lambda: RateLimitError("errorType=RATE_LIMIT"),
        "http_5xx": lambda: TransientHTTPError("HTTP 503"),
        "io_error": lambda: OSError("connection reset"),
        "http_4xx": lambda: FatalPollError("HTTP 400"),
    }

    def __init__(self, inner, script: str):
        self.inner = inner
        self.script = [t.strip() for t in script.split(",") if t.strip()]
        self.calls = 0

    def total_rows(self) -> int:
        return self.inner.total_rows()

    def fetch_page(self, start: int, n: int):
        tok = self.script[self.calls] if self.calls < len(self.script) else "ok"
        self.calls += 1
        if tok != "ok":
            raise self._RAISES[tok]()
        return self.inner.fetch_page(start, n)


def _make_transport(options: dict):
    base = ParquetPageTransport(options["path"])
    script = options.get("error_script")
    return FlakyTransport(base, script) if script else base


def _arrow_schema_to_spark(path: str) -> StructType:
    """Derive the Spark schema from the parquet footer (planning-time)."""
    from pyspark.sql.pandas.types import from_arrow_schema

    import pyarrow.parquet as pq

    return from_arrow_schema(pq.read_schema(path))


@dataclass
class _PageRange(InputPartition):
    start: int
    end: int


class PagedPollDataSource(DataSource):
    """Options: ``path`` (parquet file), ``page_size`` (rows per page),
    ``rows_per_batch`` (streaming rate control), ``error_script``
    (tests)."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self) -> StructType:
        return _arrow_schema_to_spark(self.options["path"])

    def reader(self, schema: StructType) -> "PagedPollBatchReader":
        return PagedPollBatchReader(schema, self.options)

    def streamReader(self, schema: StructType) -> "PagedPollPartitionStreamReader":
        return PagedPollPartitionStreamReader(schema, self.options)


class PagedPollBatchReader(DataSourceReader):
    """One partition per page: the parallel version of cursor pagination.

    The transport is pickled into each task, so page fetches (and their
    retry/classification loop) run on the executors."""

    def __init__(self, schema: StructType, options: dict):
        self.transport = _make_transport(options)
        self.page_size = int(options.get("page_size", DEFAULT_PAGE_SIZE))

    def partitions(self):
        n_rows = _fetch_with_retry(self.transport.total_rows)
        return [
            _PageRange(start, min(start + self.page_size, n_rows))
            for start in range(0, n_rows, self.page_size)
        ]

    def read(self, partition: _PageRange):
        # Arrow page fetch; yields arrow batches directly (the fast path
        # the Python DataSource API supports — no per-row Python tuples).
        table = _fetch_with_retry(
            lambda: self.transport.fetch_page(
                partition.start, partition.end - partition.start
            )
        )
        yield from table.to_batches()


class PagedPollPartitionStreamReader(DataSourceStreamReader):
    """Partition-planning micro-batch reader — the source's only stream
    reader, the 100×-ready shape (reference intent: Kinesis shards ≅
    partitions, README.md:2).

    The driver only plans: each offset poll re-reads the remote's
    high-water mark (a growing source keeps advancing) and rate-limits
    the batch to ``rows_per_batch``; the planned cursor range splits into
    page-grained partitions whose rows are fetched BY THE EXECUTORS
    through the pickled transport — no driver prefetch. Offsets are
    checkpointed by Spark: restart replays from the committed cursor
    (SURVEY §4 fault-tolerance row).
    """

    def __init__(self, schema: StructType, options: dict):
        self.transport = _make_transport(options)
        self.rows_per_batch = int(options.get("rows_per_batch", 500))
        self.page_size = int(options.get("page_size", DEFAULT_PAGE_SIZE))
        self._planned = 0  # high-water cursor this reader has planned
        self._primed = False  # has this instance planned a batch yet?

    def initialOffset(self) -> dict:
        # only called on a FRESH start (no checkpoint) — pacing from 0 is
        # then correct, so seed the pacing state here
        self._planned = 0
        self._primed = True
        return {"cursor": 0}

    def latestOffset(self) -> dict:
        total = _fetch_with_retry(self.transport.total_rows)
        if not self._primed:
            # First poll after a RESTART whose last batch was committed:
            # initialOffset()/partitions() were never called on this fresh
            # instance, so its pacing state (0) can trail the checkpointed
            # cursor — and Spark compares offsets only for equality, so a
            # regressed cursor would be planned and re-read delivered rows.
            # The remote high-water mark is ≥ any committed cursor for an
            # append-only log: return it uncapped once, resume pacing after.
            self._planned = total
            self._primed = True
        else:
            self._planned = min(total, self._planned + self.rows_per_batch)
        return {"cursor": self._planned}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["cursor"], end["cursor"]
        if hi < lo:
            # a planned range behind the committed start means duplicate
            # delivery — refuse loudly rather than silently re-reading
            raise ValueError(
                f"paged_poll: planned offset {hi} is behind committed offset "
                f"{lo}; refusing to re-read delivered rows"
            )
        # replayed batches (restart with a pending batch) re-plan [lo, hi]
        # that this fresh instance never saw — keep pacing state ahead of it
        self._planned = max(self._planned, hi)
        self._primed = True
        if hi == lo:
            return [_PageRange(lo, lo)]
        return [
            _PageRange(s, min(s + self.page_size, hi))
            for s in range(lo, hi, self.page_size)
        ]

    def read(self, partition: _PageRange):
        if partition.end <= partition.start:
            return
        table = _fetch_with_retry(
            lambda: self.transport.fetch_page(
                partition.start, partition.end - partition.start
            )
        )
        yield from table.to_batches()

    def commit(self, end: dict) -> None:
        # nothing to acknowledge: the "remote" is a replayable log; an
        # HTTP transport would release server-side cursors here
        pass


def register(spark) -> None:
    """Register the source so ``format("paged_poll")`` resolves."""
    spark.dataSource.register(PagedPollDataSource)


def _attach_writer() -> None:
    """Attach the writer to PagedPollDataSource (Spark 4 Python Data
    Source API: ``writer(schema, overwrite)`` on the DataSource)."""
    from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage

    class _Writer(DataSourceWriter):
        def __init__(self, options):
            self.out_dir = options["path"]

        def write(self, iterator):
            import json
            import os
            import uuid

            os.makedirs(self.out_dir, exist_ok=True)
            path = os.path.join(self.out_dir, f"part-{uuid.uuid4().hex}.jsonl")
            n = 0
            with open(path, "w") as f:
                for row in iterator:
                    f.write(json.dumps(row.asDict(recursive=True), default=str) + "\n")
                    n += 1
            return WriterCommitMessage()

    def writer(self, schema, overwrite):  # noqa: ANN001
        return _Writer(self.options)

    PagedPollDataSource.writer = writer


_attach_writer()
