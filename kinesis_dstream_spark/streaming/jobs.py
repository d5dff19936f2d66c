"""Streaming query builders (E-9) with oracle-checkable bounded runs.

Each job reads the ``events`` fixture as a *stream* (file source or the
custom paged_poll source), applies event-time logic — watermarks,
tumbling windows, dedup, stream-static joins — and runs bounded with
``Trigger.AvailableNow`` into a named memory sink, returning the result
as a batch DataFrame. Bounded runs make streaming semantics testable and
DuckDB-comparable (SURVEY §7 hard-part 2: no wall-clock dependence).

At production scale the same builders run unbounded with
``processingTime`` triggers, a durable checkpoint, and a real sink
(sources/sinks.py); only the trigger/sink wiring differs.

The ``foreachBatch`` maintenance jobs are written the same way: each
states only its per-batch logic and its drain-time readout, and gets
the wiring from helpers that exist once — ``_staged_stream`` (a fixture
table staged as a multi-file stream), ``_drain`` (the bounded
checkpointed run), and, for the two fixed per-sf granule stores, the
fingerprint gate (``_reset_stale_store`` before the drain,
``stores.write_meta`` after it, ``_fresh_granules`` for the
``*_from_store`` readers). Every job falls in one of four maintenance
classes, which decide how a replayed micro-batch stays harmless:

* ADDITIVE granules (counts, fixed-point sums) → epoch upsert: each
  partial row carries its ``batch_id`` and ``_epoch_upsert`` replaces
  that epoch's rows, so re-delivery overwrites instead of adding
  (hierarchical rollup, percentile and daily granules, gap-fill, PMI;
  ``streaming_hierarchical_rollup`` states the REPLAY CONTRACT they
  all share).
* DISTRIBUTIVE granules + a HOLISTIC step at drain time → the same
  ``_epoch_upsert`` for the mergeable part; the non-mergeable step
  (quartiles, z-test, keeper rule) runs over the merged granules at
  drain, where it is exact (RFM, A/B z-test, sentence dedup).
* ORDER-SENSITIVE aggregates → affected-key recompute: anti-join the
  batch against the store on event_id, rebuild only the touched keys,
  carry the rest over, ``stores.swap_dir`` the result (SCD-2,
  transitions).
* SET SEMANTICS → append-if-absent: insertion is idempotent, so the
  anti-join guard of ``_append_absent`` is the whole replay story
  (cohort base view, chunk store, near-dup pairs; the frozen-quantizer
  vector stores of ``_frozen_store_ingest`` guard inside their appends;
  the HLL rollup gets the same property from its lossless register
  union).
"""

from __future__ import annotations

import glob
import os
import shutil
import tempfile
import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kinesis_dstream_spark import stores
from kinesis_dstream_spark.functions.exact import exact_sum
from kinesis_dstream_spark.stores import swap_dir
from kinesis_dstream_spark.tables import load_table

# uid scoping for shared temp-dir store paths (r9-ADVICE: predictable
# /tmp names are a multi-user pre-creation/race hazard)
_UID = getattr(os, "getuid", lambda: 0)()


def _sf_temp_dir(sf_dir: str, name: str) -> str:
    """Fixed per-(user, sf) temp dir ``kds_<name>_u<uid>_<sf path tag>``
    — every staged input and auto-managed store of this module lives
    under one of these."""
    tag = sf_dir.strip("/").replace("/", "_")
    return os.path.join(tempfile.gettempdir(), f"kds_{name}_u{_UID}_{tag}")


def _table_stream_dir(sf_dir: str, table: str) -> str:
    """Stage a directory containing (a symlink to) a fixture parquet.

    Spark's file streaming source requires a *directory* path; the
    fixture ships single files. A symlink dir under tmp keeps the
    fixture read-only and copies nothing.
    """
    d = os.path.join(_sf_temp_dir(sf_dir, "stream"), table)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{table}.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/{table}.parquet", link)
    return d


def _file_stream(
    spark: SparkSession, src: str, files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a parquet dir, ``files_per_trigger``
    files per micro-batch. A ``timestamp_ntz`` ts becomes TimestampType
    (watermarks require it; the session tz is pinned UTC, so the cast
    is a pure reinterpretation — see ``_events_stream``)."""
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(src)
    )
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _staged_dir(
    spark: SparkSession, sf_dir: str, table: str, n_files: int = 4
) -> str:
    """Stage a fixture table as an ``n_files``-file parquet dir, so the
    file source delivers multiple micro-batches; the single-file fixture
    would otherwise drain in one batch and never exercise the
    append/replay machinery. Written once per (sf, table, n_files) and
    reused."""
    d = os.path.join(_sf_temp_dir(sf_dir, "stream"), f"{table}_x{n_files}")
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        load_table(spark, sf_dir, table).repartition(n_files).write.mode(
            "overwrite"
        ).parquet(d)
    return d


def _staged_files(spark: SparkSession, sf_dir: str, table: str) -> list[str]:
    """The staged table's part files — what a file-source checkpoint
    over it indexes, by path. A fixed store records them in its sidecar:
    a re-staged source (new part-file names, e.g. after a temp-dir
    cleanup) must rebuild the store, never be re-delivered as new
    epochs against the old checkpoint."""
    d = _staged_dir(spark, sf_dir, table)
    return sorted(glob.glob(os.path.join(d, "*.parquet")))


def _staged_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    files_per_trigger: int = 1,
    n_files: int = 4,
) -> DataFrame:
    """Stream a staged fixture table (``_staged_dir``),
    ``files_per_trigger`` files per micro-batch."""
    return _file_stream(
        spark, _staged_dir(spark, sf_dir, table, n_files), files_per_trigger
    )


def _drain(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> None:
    """Run ``fn(batch_df, batch_id)`` on every micro-batch available now,
    checkpointed at ``checkpoint_dir``, and return when the stream is
    drained — the bounded ``foreachBatch`` run of every maintenance job.
    A rerun against the same checkpoint drains only new files."""
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _epoch_upsert(
    spark: SparkSession,
    partials: DataFrame,
    batch_id: int,
    cur_path: str,
    tmp_path: str,
) -> None:
    """Replace epoch ``batch_id``'s rows of the granule store at
    ``cur_path`` with ``partials``: keep every row whose ``batch_id``
    differs, union the new partials tagged with this id, write
    ``tmp_path`` and swap it in (stores.swap_dir). Re-delivering an
    epoch overwrites its rows instead of adding to them."""
    merged = partials.withColumn("batch_id", F.lit(batch_id).cast("long"))
    if os.path.exists(cur_path):
        kept = spark.read.parquet(cur_path).where(F.col("batch_id") != batch_id)
        merged = kept.unionByName(merged)
    merged.write.mode("overwrite").parquet(tmp_path)
    swap_dir(tmp_path, cur_path)


def _append_absent(
    spark: SparkSession, rows: DataFrame, keys: list[str], path: str
) -> None:
    """Append the ``rows`` whose ``keys`` are not yet in the parquet
    store at ``path`` — set insertion, idempotent under replay."""
    if os.path.exists(path):
        rows = rows.join(spark.read.parquet(path).select(*keys), keys, "left_anti")
    rows.write.mode("append").parquet(path)


def _reset_stale_store(
    store_dir: str, meta: dict, checkpoint_dir: str | None
) -> None:
    """Open a fixed per-sf store for a drain: unless its sidecar equals
    ``meta``, wipe it — together with a caller-provided checkpoint, which
    must die with the state it indexed: wiping only the state would make
    the next drain see every file as already processed and serve
    empty/stale granules (r7 ADVICE). The caller records ``meta`` with
    ``stores.write_meta`` AFTER a completed drain, so a crash mid-drain
    leaves a store that reads as stale."""
    if stores.read_meta(store_dir) != meta and os.path.exists(store_dir):
        shutil.rmtree(store_dir)
        if checkpoint_dir is not None and os.path.exists(checkpoint_dir):
            shutil.rmtree(checkpoint_dir)
    os.makedirs(store_dir, exist_ok=True)


def _sum_epochs(
    spark: SparkSession, cur_path: str, keys: tuple[str, ...], sums: tuple[str, ...]
) -> DataFrame:
    """Fold an epoch-keyed granule store to one row per key, summing the
    additive columns over epochs."""
    return (
        spark.read.parquet(cur_path)
        .groupBy(*keys)
        .agg(*[F.sum(c).alias(c) for c in sums])
    )


def _fresh_granules(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    keys: tuple[str, ...],
    sums: tuple[str, ...] = ("c",),
) -> DataFrame | None:
    """The freshness gate of every ``*_from_store`` reader: the store's
    merged granules when the fingerprint in its sidecar matches the
    current events table (one count+bit_xor aggregate, no raw-row
    shuffle), else None — the caller then falls back to its scan path.
    An absent or torn sidecar reads as stale (stores.read_meta)."""
    cur_path = os.path.join(store_dir, "current")
    meta = stores.read_meta(store_dir) or {}
    if os.path.exists(cur_path) and meta.get(
        "fingerprint"
    ) == _events_fingerprint(spark, sf_dir):
        return _sum_epochs(spark, cur_path, keys, sums)
    return None


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events fixture.

    The fixture's ts is parquet TIMESTAMP(NANOS) (see tables.py): the
    stream reads it as int64 nanos (legacy conf) with the batch-derived
    schema, then converts ns → µs TimestampType with integer division.
    """
    from kinesis_dstream_spark.tables import NANOS_AS_LONG_CONF

    spark.conf.set(NANOS_AS_LONG_CONF, "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = spark.readStream.schema(raw_schema).parquet(
        _table_stream_dir(sf_dir, "events")
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Watermarks require TimestampType; the fixture parquet reads as
        # TIMESTAMP_NTZ under Spark 4's NTZ inference. Session tz is pinned
        # UTC (session.py:53) so this cast is a pure reinterpretation —
        # wall-clock values (window bounds, date_format) are unchanged.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _run_bounded(df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Run a streaming frame to completion into a memory table."""
    spark = df.sparkSession
    spark.catalog.dropTempView(name) if name in [
        t.name for t in spark.catalog.listTables()
    ] else None
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts — the streaming twin of the
    batch ``microbatch_tumbling_counts`` operator (same oracle).

    1-day event-time windows with a 1-day watermark: late rows inside the
    watermark still land in their window; the epoch-aligned window start
    equals ``date_trunc('day')`` so the batch oracle matches exactly.
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("win_day"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return _run_bounded(agg, "stream_tumbling_counts", "complete")


def streaming_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: distinct user_id via dropDuplicates on a stream.

    Projecting to the key *before* dropDuplicates keeps the state store
    minimal (key-only state) and the output deterministic.
    """
    ev = _events_stream(spark, sf_dir).select("user_id")
    dedup = ev.dropDuplicates(["user_id"])
    return _run_bounded(dedup, "stream_distinct_users", "append")


def streaming_poll_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan the custom paged_poll *streaming* source end-to-end (O-1).

    Offsets advance a row cursor per micro-batch (the reference's
    window+cursor pair, checkpointable); the bounded run drains the whole
    fixture, so the result must equal a plain batch scan — which is
    exactly what the oracle checks.
    """
    from kinesis_dstream_spark.sources import polling

    polling.register(spark)
    ev = (
        spark.readStream.format(polling.FORMAT_NAME)
        .option("path", f"{sf_dir}/events.parquet")
        # 5k rows/cursor-advance: still multi-batch at every fixture SF
        # (2 batches at sf0.01, 20 at sf0.1) so the offset machinery is
        # really exercised, without paying 50x the Python-source
        # per-micro-batch overhead the old 2k page size cost at sf0.1.
        .option("rows_per_batch", 5000)
        # production page size: 1000-row partitions instead of the
        # reference-default 100 (still >1 task per micro-batch — the
        # per-page Python data-source task launch is the dominant cost,
        # and a real deployment tunes the page knob exactly this way)
        .option("page_size", 1000)
        .load()
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 4).alias("value"),
        )
    )
    # Python streaming sources don't support Trigger.AvailableNow (Spark
    # falls back to a single micro-batch), so drain explicitly: run with a
    # fast processing-time trigger until every fixture row has landed.
    # The fixture is bounded, so the expected total is knowable upfront
    # (metadata-only parquet count) — draining to that count is fully
    # deterministic, where the old wall-clock "count stable for N polls"
    # heuristic could end early on any >0.75s micro-batch stall and yield
    # a partial, flaky result. (Engine-idle signals don't work here:
    # Spark emits no progress events for dataless triggers, so
    # numInputRows==0 batches never appear.)
    expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    name = "stream_poll_scan"
    q = (
        ev.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table(name).count() >= expected:
                break
            time.sleep(0.25)
    finally:
        q.stop()
        q.awaitTermination(30)
    return spark.table(name)


def streaming_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: enrich the event stream with the customer dim.

    The static side is broadcast per micro-batch — the canonical pattern
    for dimension enrichment at scale (no state store involved).
    """
    customer = load_table(spark, sf_dir, "customer")
    ev = _events_stream(spark, sf_dir)
    joined = (
        ev.join(
            F.broadcast(customer),
            ev["user_id"] == customer["c_custkey"],
        )
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    return _run_bounded(joined, "stream_static_join", "complete")


def streaming_session_windows(spark: SparkSession, sf_dir: str, gap: str = "30 minutes") -> DataFrame:
    """Native session windows on the stream (E-9): ``session_window``
    merges events per user whose gaps are below ``gap``.

    The streaming twin of the batch ``sessionize_events`` operator —
    session *membership* matches it exactly (same gap rule: boundary-
    equal events merge, a new session starts strictly when diff > gap);
    the window bounds differ by construction (session_window extends end
    by gap). Verified against the batch operator in pytest AND
    hash-checked against a gaps-and-islands DuckDB oracle: the output
    exposes only the session *start* (= first event's ts), which is
    ANSI-portable — only the extended close bound isn't, and the query
    never outputs it.
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.session_window("ts", gap).alias("win"), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .filter(F.col("n_events") >= 3)
        .select(
            "user_id",
            F.date_format(F.col("win.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("session_start"),
            "n_events",
        )
    )
    return _run_bounded(agg, "stream_session_windows", "complete")


def streaming_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (E-9): 2-day windows advancing by 1 day.

    Every event lands in exactly window_size/slide = 2 windows; starts are
    epoch-aligned to the slide, so the oracle reconstructs membership as
    ``date_trunc('day', ts) - {0,1} days``. Partial aggregation applies
    before the single state-store shuffle, as with tumbling windows.
    """
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "2 days", "1 day").alias("win"), F.col("event_type"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("win_day"),
            "event_type",
            "n_events",
        )
    )
    return _run_bounded(agg, "stream_sliding_windows", "complete")


def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact streaming dedup on a composite key via ``dropDuplicates``.

    Key-only projection *before* the dedup keeps the state store at one
    entry per distinct key (no payload) and makes the append output
    deterministic: exactly the distinct (user_id, event_type) pairs.
    State is never evicted — the bounded-retention variant
    (``dropDuplicatesWithinWatermark``) is covered in pytest where its
    eviction-dependent output can be bounded, not hash-checked.
    """
    ev = _events_stream(spark, sf_dir).select("user_id", "event_type")
    return _run_bounded(ev.dropDuplicates(["user_id", "event_type"]), "stream_dedup_keys", "append")


def streaming_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time document dedup (E-9 × E-10): the streaming half of
    the curation pipeline.

    A training-data ingest stream must drop exact duplicates BEFORE they
    reach storage — re-crawls and mirrors produce the same bytes again
    days later, far beyond any watermark, so the dedup state must be
    global (no eviction), exactly like the batch ledger it replaces. The
    state entry is (source, sha256) — 40-ish bytes per distinct document
    ever seen, never the text itself; per-source counts summarize the
    retained set.

    Keying the state on (source, sha) rather than bare sha makes the
    bounded drain deterministic (a duplicate's surviving copy is
    per-key, not racing across sources), which is what lets the DuckDB
    oracle hash-check this query instead of settling for rows-only.
    """
    raw_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    docs = spark.readStream.schema(raw_schema).parquet(
        _table_stream_dir(sf_dir, "documents")
    )
    deduped = (
        docs.select("source", F.sha2(F.col("text"), 256).alias("content_sha"))
        .dropDuplicates(["source", "content_sha"])
        .groupBy("source")
        .agg(F.count("*").alias("n_unique_docs"))
    )
    return _run_bounded(deduped, "stream_dedup_documents", "complete")


def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (E-9): purchases within 1 hour of a
    click by the same user.

    Both sides carry watermarks and the join condition bounds event time
    on both ends, so Spark can evict join state as the watermark advances
    — the only state-bounded way to run an unbounded self-join. At 100 TB
    the state store holds ~1 hour of each stream per key, independent of
    total history.
    """
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("c_ts", "1 day")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
        .withWatermark("p_ts", "1 day")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts >= c_ts AND p_ts <= c_ts + interval 1 hour"
        ),
    ).select(F.col("c_user").alias("user_id"), "click_id", "purchase_id")
    return _run_bounded(joined, "stream_stream_join", "append")


def streaming_user_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (E-9):
    longest run of consecutive active calendar days per user.

    The per-key state is three scalars (last_day, current_streak,
    best_streak) — constant memory per user regardless of history, which
    is the property that lets this run forever on an unbounded stream.
    Each micro-batch folds its (sorted) new days into the state and emits
    the updated best. The bounded fixture run drains in one batch; the
    same code runs incrementally under a processingTime trigger.

    The batch twin (``relational.user_activity_streaks``) shares the
    gaps-and-islands SQL oracle; this streaming variant is itself
    oracle-checked because the bounded drain sees every event.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    import pandas as pd

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("longest_streak", IntegerType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("last_day", LongType()),
            StructField("cur", IntegerType()),
            StructField("best", IntegerType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        if state.exists:
            last_day, cur, best = state.get
        else:
            last_day, cur, best = None, 0, 0
        days = set()
        for pdf in pdf_iter:
            days.update(int(d) for d in pdf["day_no"])
        for d in sorted(days):
            if last_day is not None and d == last_day:
                continue
            cur = cur + 1 if (last_day is not None and d == last_day + 1) else 1
            best = max(best, cur)
            last_day = d
        state.update((last_day if last_day is not None else -1, cur, best))
        yield pd.DataFrame({"user_id": [key[0]], "longest_streak": [best]})

    ev = _events_stream(spark, sf_dir).select(
        "user_id", F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("day_no")
    )
    streaks = ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _run_bounded(streaks, "stream_user_streaks", "update")


def streaming_changelog_merge(
    spark: SparkSession, sf_dir: str, state_dir: str | None = None
) -> DataFrame:
    """foreachBatch MERGE: materialize latest-state-per-key from the
    changelog stream (SURVEY §1.3 upgrade path).

    The reference re-emits a record on every modification and keeps no
    state; consumers that need "current state per key" must merge. Each
    micro-batch upserts into a parquet state table: union previous state
    with the batch, keep the max-(ts, event_id) row per user_id, swap
    via the aside-rename swap (stores.swap_dir: complete-old or
    complete-new at the live path, both copies on disk in the one-
    rename window). With a transactional table
    format (Delta/Iceberg) the body becomes a single MERGE INTO — the
    batch loop, checkpoint, and dedup-window logic are identical.

    The bounded drain's final state must equal the batch
    ``changelog_latest_state`` — which is exactly what the oracle checks.
    """
    from pyspark.sql import Window

    state_dir = state_dir or tempfile.mkdtemp(prefix="kds_state_")
    cur_path = os.path.join(state_dir, "current")

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merged = batch_df
        if os.path.exists(cur_path):
            merged = spark.read.parquet(cur_path).unionByName(batch_df)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            merged.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )
        tmp = os.path.join(state_dir, f"tmp_{batch_id}")
        latest.write.mode("overwrite").parquet(tmp)
        swap_dir(tmp, cur_path)

    _drain(_events_stream(spark, sf_dir), merge, os.path.join(state_dir, "chk"))
    return spark.read.parquet(cur_path).select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
    )


def streaming_hll_rollup(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
    lgk: int = 12,
) -> DataFrame:
    """Streaming maintenance of the mergeable-sketch granule
    (operators/sketches.py): per-(event_type, day) HLL sketches of
    distinct users, updated each micro-batch via lossless ``hll_union_agg``
    and swapped crash-safely (stores.swap_dir, the changelog_merge
    pattern).

    REPLAY-SAFE BY CONSTRUCTION: HLL insertion has set semantics — a
    micro-batch re-processed after a checkpoint-less restart unions the
    same items into the same registers and changes no estimate. That is
    the reason sketches, not counters, are the right streaming state for
    distinct-count telemetry (counters double-count on replay; see
    ``tests/test_streaming.py``). The drained state must equal the batch
    ``hll_distinct_rollup`` estimates exactly (same algorithm, same
    lgConfigK, lossless merges) — pinned by pytest.

    The streamed table is staged as multiple files with
    maxFilesPerTrigger=1, so the union path is exercised across real
    micro-batch boundaries, not a single batch.
    """
    state_dir = state_dir or tempfile.mkdtemp(prefix="kds_hll_state_")
    cur_path = os.path.join(state_dir, "current")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        batch_sk = (
            batch_df.select(
                "event_type", F.date_trunc("day", "ts").alias("day"), "user_id"
            )
            .groupBy("event_type", "day")
            .agg(F.hll_sketch_agg("user_id", F.lit(lgk)).alias("user_sketch"))
        )
        merged = batch_sk
        if os.path.exists(cur_path):
            merged = (
                spark.read.parquet(cur_path)
                .unionByName(batch_sk)
                .groupBy("event_type", "day")
                .agg(F.hll_union_agg("user_sketch").alias("user_sketch"))
            )
        tmp = os.path.join(state_dir, f"tmp_{batch_id}")
        merged.write.mode("overwrite").parquet(tmp)
        swap_dir(tmp, cur_path)

    _drain(
        _staged_stream(spark, sf_dir, "events"),
        upsert,
        checkpoint_dir or os.path.join(state_dir, "chk"),
    )
    return (
        spark.read.parquet(cur_path)
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("user_sketch")).alias("est_users"),
            F.count("*").alias("n_days"),
        )
        .orderBy("event_type")
    )


def streaming_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming media-decode pipeline (E-9 x E-13): each micro-batch of
    the documents stream synthesizes and REALLY decodes WAV payloads
    (operators/multimodal.py, stdlib wave) via mapInPandas — the decode
    stage runs inside the stream exactly as it does in batch, because
    mapInPandas is trigger-agnostic. Bounded drain over a multi-file
    staging (maxFilesPerTrigger=1) so the decode crosses real
    micro-batch boundaries; the result must equal the batch
    ``wav_decode_stats`` row set, which is what the analytic oracle
    (same SQL) checks.
    """
    from kinesis_dstream_spark.operators.multimodal import (
        decode_wav_batch,
        synth_wav_table,
    )

    stream = _staged_stream(spark, sf_dir, "documents")
    decoded = decode_wav_batch(synth_wav_table(stream.select("doc_id")))
    return _run_bounded(decoded, "stream_wav_decode", "append")


def streaming_chunk_store_ingest(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of the content-addressed CHUNK STORE
    (operators/text.chunk_documents): each micro-batch chunks its
    documents and appends only chunks whose (chunk_sha, doc_id,
    chunk_no) key is NEW — the left-anti-join-against-state pattern that
    makes replays and restarts idempotent (same pattern as the dedup
    index ingest; chunk_sha alone is NOT the key because distinct
    (doc, position) copies of a duplicated span are distinct chunks —
    chunk-level dedup is a downstream query, ``chunk_dedup_stats``).

    Returns the drained store (doc_id, chunk_no, start_tok, n_tokens,
    chunk_sha), which must equal the batch ``chunk_documents`` output
    minus chunk_text — checked by the chunking oracle.
    """
    from kinesis_dstream_spark.operators.text import chunk_documents

    store_dir = store_dir or tempfile.mkdtemp(prefix="kds_chunk_store_")
    cur = os.path.join(store_dir, "chunks")

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        chunks = chunk_documents(batch_df).drop("chunk_text")
        _append_absent(spark, chunks, ["doc_id", "chunk_no"], cur)

    _drain(
        _staged_stream(spark, sf_dir, "documents"),
        ingest,
        checkpoint_dir or os.path.join(store_dir, "chk"),
    )
    return spark.read.parquet(cur)


def chunk_store_compact(
    spark: SparkSession, store_dir: str, max_files: int = 8
) -> int:
    """Compact the streaming chunk store when micro-batch appends have
    accumulated more than ``max_files`` parquet files (every persisted
    append-path here carries a compaction pass — ann_index and
    dedup_index set the pattern; an uncompacted store grows one
    file-set per batch forever). Rewrites the store to a repartitioned
    copy via tmp-dir + aside-rename swap; content is byte-identical
    (pytest-pinned). Returns the resulting file count.
    """
    cur = os.path.join(store_dir, "chunks")
    files = glob.glob(os.path.join(cur, "*.parquet"))
    if len(files) <= max_files:
        return len(files)
    df = spark.read.parquet(cur)
    tmp = os.path.join(store_dir, "chunks_compact_tmp")
    df.repartition(max_files).write.mode("overwrite").parquet(tmp)
    swap_dir(tmp, cur)
    return len(glob.glob(os.path.join(cur, "*.parquet")))


def streaming_ann_index_ingest(
    spark: SparkSession,
    sf_dir: str,
    index_path: str | None = None,
    checkpoint_dir: str | None = None,
    n_files: int = 4,
) -> DataFrame:
    """Streaming ingestion into the persisted ANN index (O-1 ∘ E-11):
    the reference's poll→sink loop with the cell-partitioned index as
    the sink.

    Lifecycle: ``ann_index_init`` bootstraps codebooks once from a
    bounded sample of the batch corpus (frozen thereafter — the daily
    ingest never retrains); each micro-batch then (1) dedups on vec_id
    inside the batch, (2) anti-joins the already-ingested ids, and
    (3) ``ann_index_append``s the remainder. Step 2 makes replay safe:
    appends are not idempotent on their own, so a batch re-delivered
    after a crash-before-checkpoint (or a full re-run against the same
    index) adds zero duplicate rows — pytest drains the stream twice
    and asserts the index is unchanged.

    Scale shape: the anti-join reads ONLY the index's vec_id column
    (parquet column pruning) and broadcasts nothing large; at 100 TB a
    production sink would swap step 2 for an id bloom-filter sidecar or
    a Delta/Iceberg MERGE, keeping the same per-batch contract. The
    drained result is searched with the standard partition-pruned path
    and equals a batch build bit-for-bit (same codebook fit — pytest
    batch-equivalence).
    """
    from kinesis_dstream_spark.operators import ann_index

    work = tempfile.mkdtemp(prefix="kds_annstream_")
    index_path = index_path or os.path.join(work, "idx")
    checkpoint_dir = checkpoint_dir or os.path.join(work, "chk")

    emb = load_table(spark, sf_dir, "embeddings")
    if not os.path.exists(os.path.join(index_path, ann_index.SIDECAR)):
        ann_index.ann_index_init(emb, index_path)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.dropDuplicates(["vec_id"])
        if ann_index._n_parquet_files(index_path):
            existing = spark.read.parquet(index_path).select("vec_id")
            batch = batch.join(existing, "vec_id", "left_anti")
        if not batch.isEmpty():
            ann_index.ann_index_append(batch, index_path)

    _drain(
        _staged_stream(spark, sf_dir, "embeddings", n_files=n_files),
        ingest,
        checkpoint_dir,
    )
    return ann_index.ann_index_search(spark, index_path, n_queries=5, k=5)


def _frozen_store_ingest(
    spark: SparkSession,
    sf_dir: str,
    store_path: str | None,
    checkpoint_dir: str | None,
    n_files: int,
    prefix: str,
    meta_name: str,
    ensure: Callable[[DataFrame, str], object],
    append: Callable[[DataFrame, str], object],
) -> tuple[DataFrame, str]:
    """The streaming ingest shared by the frozen-quantizer vector stores:
    bootstrap the store ONCE on the 80% base split (``vec_id % 5 != 4``)
    via ``ensure``, then drain the staged embeddings and ``append`` each
    micro-batch's vec_id-deduped rows. Returns (embeddings, store path)
    for the caller's serve.

    The bootstrap gates on read_meta, not os.path.exists: a torn or
    unparseable sidecar means "no complete build — rebuild", never
    hand-repair (r10 ADVICE). Replay safety (cell-pruned row anti-join +
    batch fingerprint) lives inside each ``append`` — no wrapper-side
    whole-store scan."""
    work = tempfile.mkdtemp(prefix=prefix)
    store_path = store_path or os.path.join(work, "idx")
    emb = load_table(spark, sf_dir, "embeddings")
    if stores.read_meta(store_path, meta_name) is None:
        ensure(emb.filter(F.col("vec_id") % 5 != 4), store_path)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.dropDuplicates(["vec_id"])
        if not batch.isEmpty():
            append(batch, store_path)

    _drain(
        _staged_stream(spark, sf_dir, "embeddings", n_files=n_files),
        ingest,
        checkpoint_dir or os.path.join(work, "chk"),
    )
    return emb, store_path


def streaming_ivf_det_ingest(
    spark: SparkSession,
    sf_dir: str,
    store_path: str | None = None,
    checkpoint_dir: str | None = None,
    n_files: int = 4,
) -> DataFrame:
    """Streaming ingestion into the persisted deterministic-IVF store
    (O-1 ∘ E-11, r9): bootstrap the store ONCE on the 80% base split
    (frozen Lloyd centroids — the quantizer never retrains on ingest),
    then each micro-batch anti-joins the already-coded vec_ids and
    appends the remainder via frozen-centroid assignment
    (``ivf_det_store_append``). Replay-safe twice over: the anti-join
    adds zero duplicate rows on re-delivery, and the append's own
    batch-fingerprint guard skips byte-identical batches.

    Unlike ``streaming_ann_index_ingest`` (sampled PQ codebooks —
    rows-only), every step here is deterministic, so the drained serve
    is END-TO-END HASH-CHECKABLE: the final codes table equals the
    batch ingest flow's (base build + frozen assignment of the rest),
    and the registry pairs this query with the SAME ``IVF_DET_INGEST_SQL``
    twin — a streaming job certified row-for-row by a relational
    oracle.

    Scale shape: per batch, one map-side assignment against k·d
    literal centroids, then a replay anti-join that reads ONLY the
    batch's cell partitions (r11: the frozen quantizer pins each
    vector to one cell, so the store-side scan is partition-pruned to
    the touched cells — O(cells), not O(store), per batch; the pruning
    lives in ``ivf_det_store_append`` so every caller gets it), one
    partitioned append.
    """
    from kinesis_dstream_spark.operators import clustering

    emb, store_path = _frozen_store_ingest(
        spark,
        sf_dir,
        store_path,
        checkpoint_dir,
        n_files,
        "kds_ivfdstream_",
        clustering._IVF_DET_META,
        clustering.ivf_det_store_ensure,
        clustering.ivf_det_store_append,
    )
    return clustering.ivf_det_serve_frozen(emb, store_path)


def streaming_ivf_pq_det_ingest(
    spark: SparkSession,
    sf_dir: str,
    store_path: str | None = None,
    checkpoint_dir: str | None = None,
    n_files: int = 4,
) -> DataFrame:
    """Streaming ingestion into the persisted deterministic IVF-PQ
    store (O-1 ∘ E-11, r10) — the PQ-level twin of
    ``streaming_ivf_det_ingest``: bootstrap once on the 80% base split
    (frozen coarse centroids AND frozen subspace codebooks), then each
    micro-batch anti-joins the coded vec_ids and appends the remainder
    via frozen two-level assignment (``ivf_pq_det_store_append``).
    Same double replay safety (row anti-join + batch fingerprint), and
    because BOTH quantizer levels are deterministic the drained serve
    shares the batch ingest flow's ``IVF_PQ_DET_INGEST_SQL`` oracle —
    the repo's second hash-certified streaming job.

    Scale shape per batch: one fused map-side two-level assignment
    against k·d + m·ksub·(d/m) literals, then a replay anti-join that
    reads ONLY the batch's cell partitions (r11 — pruning lives in
    ``ivf_pq_det_store_append``), one partitioned append.
    """
    from kinesis_dstream_spark.operators import pq_det

    emb, store_path = _frozen_store_ingest(
        spark,
        sf_dir,
        store_path,
        checkpoint_dir,
        n_files,
        "kds_ivfpqstream_",
        pq_det._PQ_META,
        pq_det.ivf_pq_det_store_ensure,
        pq_det.ivf_pq_det_store_append,
    )
    return pq_det.ivf_pq_det_serve_frozen(emb, store_path)


def streaming_ivf_pq_res_ingest(
    spark: SparkSession,
    sf_dir: str,
    store_path: str | None = None,
    checkpoint_dir: str | None = None,
    n_files: int = 4,
) -> DataFrame:
    """Streaming ingestion into the persisted RESIDUAL IVF-PQ store
    (O-1 ∘ E-11, r11) — the third hash-certified streaming job:
    bootstrap once on the 80% base split (frozen coarse centroids AND
    frozen residual codebooks), then each micro-batch appends the
    remainder via frozen assign → recenter → frozen residual encode
    (``ivf_pq_res_store_append``). Replay safety and cell pruning live
    in the append (batch fingerprint + cell-pruned row anti-join); the
    drained serve shares the batch ingest flow's
    ``IVF_PQ_RES_INGEST_SQL`` oracle because every step is
    deterministic — the FAISS residual serving stack, streamed, with a
    relational certificate.

    Scale shape per batch: one map-side two-level frozen assignment
    (k·d coarse literals, then m·ksub·(d/m) residual-codebook literals
    over the recentered slices), one partition-pruned replay read, one
    partitioned append.
    """
    from kinesis_dstream_spark.operators import pq_det

    emb, store_path = _frozen_store_ingest(
        spark,
        sf_dir,
        store_path,
        checkpoint_dir,
        n_files,
        "kds_ivfpqresstream_",
        pq_det._RES_META,
        pq_det.ivf_pq_res_store_ensure,
        pq_det.ivf_pq_res_store_append,
    )
    return pq_det.ivf_pq_res_serve_frozen(emb, store_path)


def streaming_ivf_sq8_ingest(
    spark: SparkSession,
    sf_dir: str,
    store_path: str | None = None,
    checkpoint_dir: str | None = None,
    n_files: int = 4,
) -> DataFrame:
    """Streaming ingestion into the persisted IVF-SQ8 store (O-1 ∘
    E-11, r11) — the FOURTH hash-certified streaming job: bootstrap
    once on the 80% base split (frozen coarse centroids AND frozen
    per-dimension bounds), then each micro-batch appends via frozen
    assign → frozen clamped encode (``ivf_sq8_store_append``). Replay
    safety and cell pruning live in the append (batch fingerprint +
    cell-pruned row anti-join); the drained serve shares the batch
    ingest flow's ``IVF_SQ8_INGEST_SQL`` oracle because every step is
    deterministic — the FAISS scalar-quantizer serving stack, streamed,
    with a relational certificate.

    Scale shape per batch: one map-side frozen coarse assignment (k·d
    literals), one fused clamped encode (2·d literals), one
    partition-pruned replay read, one partitioned append.
    """
    from kinesis_dstream_spark.operators import sq_det

    emb, store_path = _frozen_store_ingest(
        spark,
        sf_dir,
        store_path,
        checkpoint_dir,
        n_files,
        "kds_ivfsq8stream_",
        sq_det._SQ_META,
        sq_det.ivf_sq8_store_ensure,
        sq_det.ivf_sq8_store_append,
    )
    return sq_det.ivf_sq8_serve_frozen(emb, store_path)


def streaming_knn_graph_ingest(
    spark: SparkSession,
    sf_dir: str,
    store_path: str | None = None,
    checkpoint_dir: str | None = None,
    n_files: int = 4,
) -> DataFrame:
    """Streaming ingestion into the persisted graph-ANN (HNSW) store —
    the FOURTH hash-certified streaming ANN job (r12, beside the
    det-IVF / det-IVF-PQ / residual / SQ8 ingests): bootstrap the
    store ONCE on the 80% base split (frozen coarse cells, frozen
    md5-capped candidate pool), then each micro-batch inserts its
    novel vectors via the order-independent HNSW insert
    (``knn_graph_store_append``: frozen-pool out-edges + back-links).
    Because pool membership never changes after the bootstrap, a
    node's edges are a pure function of (node, store) — the final
    graph is identical under ANY batch partition of the ingest set, so
    the drained beam-search serve shares the batch ingest flow's
    ``ANN_KNN_GRAPH_INGEST_SQL`` oracle row-for-row.

    Scale shape per batch: one map-side frozen-centroid assignment,
    a replay anti-join pruned to the batch's cell partitions, one
    bounded broadcast-pool edge build (|batch|·n_probe·cell_cap
    candidates), two appends. The graph structure itself is never
    rescanned.
    """
    from kinesis_dstream_spark.operators import knn_graph

    emb, store_path = _frozen_store_ingest(
        spark,
        sf_dir,
        store_path,
        checkpoint_dir,
        n_files,
        "kds_knngstream_",
        knn_graph._KNNG_META,
        knn_graph.knn_graph_store_ensure,
        knn_graph.knn_graph_store_append,
    )
    return knn_graph.knn_graph_serve_frozen(spark, store_path)


def streaming_lex_index_ingest(
    spark: SparkSession,
    sf_dir: str,
    store_path: str | None = None,
    checkpoint_dir: str | None = None,
    n_files: int = 4,
) -> DataFrame:
    """Streaming maintenance of the positional inverted index — the
    hash-certified LEXICAL sibling of the five streaming ANN ingests:
    bootstrap the index on the 80% base split (``doc_id % 5 != 4``),
    stream the documents table in micro-batches, append each batch's
    novel documents (``lexindex.lex_index_append``: postings-first
    torn-window guard, docs-last commit marker), then serve BM25 from
    the drained store.

    Certification argument: tokenization is STATELESS — a document's
    postings and length row are pure functions of the document alone,
    and the membership anti-join only ever drops non-novel doc_ids —
    so the drained index is identical under ANY batch partition of the
    corpus (order-independence pytest) and the serve shares
    ``text.bm25_search``'s full-corpus DuckDB oracle row-for-row. No
    frozen model is needed for the property (the contrast with the ANN
    ingests, whose centroid/codebook freeze is what buys it).

    Scale shape per batch: one tokenize of the batch, one broadcast
    membership anti-join against the one-row-per-doc docs table, two
    appends; the postings themselves are never rescanned (the
    torn-window guard reads only the doc_id column).
    """
    from kinesis_dstream_spark.operators import lexindex

    work = tempfile.mkdtemp(prefix="kds_lexstream_")
    store_path = store_path or os.path.join(work, "idx")
    checkpoint_dir = checkpoint_dir or os.path.join(work, "chk")

    docs = load_table(spark, sf_dir, "documents")
    if stores.read_meta(store_path, lexindex._LEX_META) is None:
        lexindex.lex_index_build(docs.filter(F.col("doc_id") % 5 != 4), store_path)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            lexindex.lex_index_append(batch_df, store_path)

    _drain(
        _staged_stream(spark, sf_dir, "documents", n_files=n_files),
        ingest,
        checkpoint_dir,
    )
    return lexindex.bm25_from_store(spark, store_path)


def streaming_dedup_index_ingest(
    spark: SparkSession,
    sf_dir: str,
    index_path: str | None = None,
    checkpoint_dir: str | None = None,
    n_files: int = 4,
    threshold: float = 0.6,
) -> DataFrame:
    """Streaming ingestion through the persisted near-dup index: each
    micro-batch is checked against ALL previously ingested documents
    (not just a watermark window — the contrast with
    ``streaming_dedup_documents``), near-dups of history are flagged to
    a parquet log, and only novel documents are appended.

    History lives in parquet, not the state store, so state never grows
    inside the streaming engine and a restart resumes against the full
    index. Replay-safe like the ANN ingest: re-delivered documents
    match their already-appended twins at jaccard 1.0 and are not
    re-appended. Returns the accumulated flagged-pairs log.

    In-batch near-dups are NOT checked against each other here (both
    append; the intra-corpus operators own that case) — the per-batch
    contract is strictly new-vs-history, which is what keeps the check
    a broadcast join with zero shuffle of history.
    """
    from kinesis_dstream_spark.operators import dedup_index

    work = tempfile.mkdtemp(prefix="kds_didxstream_")
    index_path = index_path or os.path.join(work, "idx")
    checkpoint_dir = checkpoint_dir or os.path.join(work, "chk")
    flags_dir = os.path.join(index_path, "flagged")

    if not os.path.exists(os.path.join(index_path, dedup_index.META)):
        # bootstrap an EMPTY index: schema-complete tables, zero rows
        docs = load_table(spark, sf_dir, "documents")
        dedup_index.dedup_index_build(docs.filter(F.lit(False)), index_path)

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        dups = dedup_index.dedup_index_ingest(batch_df, index_path, threshold)
        dups.write.mode("append").parquet(flags_dir)

    _drain(
        _staged_stream(spark, sf_dir, "documents", n_files=n_files),
        ingest,
        checkpoint_dir,
    )
    return spark.read.parquet(flags_dir)


def streaming_user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing on the NEWEST API (E-9):
    ``transformWithStateInPandas`` + a ``StatefulProcessor`` keeping one
    ValueState row per user (event count + value cents, both exact).

    Compared to applyInPandasWithState (streaming_user_streaks), this is
    the Spark 4 replacement: typed state handles, timers, and state
    schema evolution — requires the RocksDB state store provider, which
    is also the right provider at scale (state spills off-heap instead
    of living in executor JVM heap).
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        # transformWithStateInPandas drives its state protocol over
        # protobuf; absent here. The applyInPandasWithState variant
        # (streaming_user_streaks) covers custom state without it.
        raise NotImplementedError(
            "transformWithStateInPandas requires the python 'protobuf' "
            "package, not available in this environment"
        ) from e

    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("value_cents", LongType()),
        ]
    )
    state_schema = StructType(
        [StructField("n", LongType()), StructField("cents", LongType())]
    )

    class UserTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.totals = handle.getValueState("totals", state_schema)

        def handleInputRows(self, key, rows, timerValues):
            n, cents = (self.totals.get() or (0, 0)) if self.totals.exists() else (0, 0)
            for pdf in rows:
                n += len(pdf)
                cents += int(pdf["cents"].sum())
            self.totals.update((n, cents))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "value_cents": [cents]}
            )

        def close(self) -> None:
            pass

    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        ev = _events_stream(spark, sf_dir).select(
            "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
        )
        out = ev.groupBy("user_id").transformWithStateInPandas(
            UserTotals(),
            outputStructType=out_schema,
            outputMode="Update",
            timeMode="None",
        )
        return _run_bounded(out, "stream_user_totals_tws", "update")
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def streaming_scd2_maintenance(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of the SCD-2 history table
    (operators/changelog.scd2_from_changelog): each micro-batch of
    changelog rows rewrites ONLY the histories of the keys it touches.

    Per batch: (1) replay guard — anti-join the batch against the
    store on event_id, so a restarted/replayed batch appends nothing
    (foreachBatch is at-least-once; the reference's gapless closed
    windows re-deliver boundary rows the same way,
    /root/reference/app/hs_contacts.py:139-147); (2) affected keys =
    the batch's distinct user_ids; (3) rebuild those keys' full
    histories from (their stored versions converted back to changelog
    rows) ∪ (the new rows) — re-versioning is per-key window work over
    a few rows; (4) untouched keys' rows are carried over verbatim.
    At scale the store is key-partitioned, so step 4 is a
    partition-pruned copy and the rewrite touches only the affected
    partitions — the same bounded-rewrite argument as the ANN-index
    cell append.

    Returns the drained store, which must equal the BATCH
    ``scd2_from_changelog`` over the full table — the registry wires it
    to the identical SQL oracle, so incremental streaming maintenance
    is hash-checked against one-shot recomputation per round.
    """
    from kinesis_dstream_spark.operators.changelog import scd2_from_changelog

    store_dir = store_dir or tempfile.mkdtemp(prefix="kds_scd2_store_")
    cur = os.path.join(store_dir, "scd2")
    cols = ["user_id", "event_id", "event_type", "value", "ts"]

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(*cols).dropDuplicates(["event_id"])
        if os.path.exists(cur):
            store = spark.read.parquet(cur)
            batch = batch.join(
                store.select("event_id"), "event_id", "left_anti"
            )
            affected = batch.select("user_id").distinct()
            touched_as_log = (
                store.join(affected, "user_id")
                .select(
                    "user_id",
                    "event_id",
                    "event_type",
                    "value",
                    F.col("valid_from").alias("ts"),
                )
            )
            untouched = store.join(affected, "user_id", "left_anti")
            rebuilt = scd2_from_changelog(touched_as_log.unionByName(batch))
            out = untouched.unionByName(rebuilt)
        else:
            out = scd2_from_changelog(batch)
        tmp = cur + "_tmp"
        out.write.mode("overwrite").parquet(tmp)
        swap_dir(tmp, cur)

    _drain(
        _staged_stream(spark, sf_dir, "events"),
        merge,
        checkpoint_dir or os.path.join(store_dir, "chk"),
    )
    return spark.read.parquet(cur)


def streaming_hierarchical_rollup(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of the continuous-aggregate granule store
    (operators/eventflow.py): per-(event_type, minute) exact partials
    (count + fixed-point sum), appended per micro-batch and merged
    upward at read time — the streaming half of the hypertable shape.

    REPLAY-SAFE VIA BATCH-ID KEYED IDEMPOTENT UPSERT: additive partials
    are NOT naturally replay-safe (re-adding a replayed batch
    double-counts — the opposite of the HLL job's set semantics). The
    production-standard fix is used here: partial rows carry the epoch's
    ``batch_id``; the upsert first DELETES any rows with this batch_id
    (a restart re-delivers the same batch under the same id with a
    checkpointed file source), then writes the fresh partials, so replay
    overwrites instead of accumulating. Pinned by pytest re-running an
    upsert with a duplicate batch id.

    REPLAY CONTRACT (required, not assumed): batch-id-keyed upsert is
    safe only when a replay re-delivers the SAME batch_id→content
    mapping — i.e. the source is checkpointed (Spark's file source
    replays identical epochs from the offset log) — or when the entire
    source is re-drained from scratch against the same store (every id
    is overwritten, stale partials cannot survive). A PARTIAL replay
    with shifted batch ids (e.g. a new checkpoint dir over a store
    built under the old one) violates the contract: epoch k's delete
    would clear a different epoch's rows and leave undelivered ids'
    stale partials in place. Operationally: never discard the
    checkpoint without also discarding (or fully re-draining) the
    store. The tests exercise both sanctioned modes (checkpointed
    restart, full re-drain).

    The drained hour/day output must equal the batch
    ``hierarchical_time_rollup`` EXACTLY (int64 partials merge
    losslessly in any batching), so this streaming query shares the
    batch twin's DuckDB oracle in the registry.
    """
    from kinesis_dstream_spark.operators import eventflow

    state_dir = state_dir or tempfile.mkdtemp(prefix="kds_cagg_state_")
    cur_path = os.path.join(state_dir, "current")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        _epoch_upsert(
            spark,
            eventflow.minute_granules(batch_df),
            batch_id,
            cur_path,
            os.path.join(state_dir, f"tmp_{batch_id}"),
        )

    _drain(
        _staged_stream(spark, sf_dir, "events"),
        upsert,
        checkpoint_dir or os.path.join(state_dir, "chk"),
    )
    granules = spark.read.parquet(cur_path).drop("batch_id")
    return eventflow.rollup_from_minute_granules(granules)


def streaming_percentile_maintenance(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of per-type exact percentiles — the
    streaming half of the histogram-refinement selection engine
    (operators/selection.py): the maintained state is the VALUE-
    FREQUENCY table (event_type, iv, count) on the fixed-point grid,
    which is the exact sufficient statistic for every order statistic;
    the drain computes p50/p90/p99 from cumulative counts over the
    distinct-value table — no raw-row re-read, no sort of event rows,
    ever.

    Maintenance class: ADDITIVE (the taxonomy's simplest case — counts
    merge losslessly under any batching), so the replay story is the
    epoch-keyed upsert shared with the hierarchical rollup: granules
    carry their foreachBatch batch_id and an upsert deletes-own-epoch-
    then-writes, making re-delivery of any epoch idempotent. Same
    REPLAY CONTRACT as streaming_hierarchical_rollup: checkpointed
    restart or full re-drain, never a fresh checkpoint over a
    partially-built store.

    The drained output must equal the batch ``grouped_percentiles``
    EXACTLY (nearest-rank selection from summed counts is batching-
    invariant), so the registry wires it to the identical DuckDB
    oracle.
    """
    from kinesis_dstream_spark.functions.exact import fixedpoint
    from kinesis_dstream_spark.operators.dataquality import (
        _PCT_SCALE,
        percentiles_from_value_frequency,
    )

    # fixed per-sf store + content fingerprint (the kds_pairstream_
    # convention): repeat invocations drain zero new files against the
    # existing checkpoint and serve the maintained granules — one temp
    # copy per sf, the operator's true incremental cost in the bench
    state_dir, meta = _events_store(
        spark, sf_dir, state_dir, _percentile_store_dir(sf_dir), checkpoint_dir
    )
    cur_path = os.path.join(state_dir, "current")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.select(
                "event_type", fixedpoint(F.col("value"), _PCT_SCALE).alias("iv")
            )
            .groupBy("event_type", "iv")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        tmp = os.path.join(state_dir, f"tmp_{batch_id}")
        _epoch_upsert(spark, partials, batch_id, cur_path, tmp)

    _drain(
        _staged_stream(spark, sf_dir, "events"),
        upsert,
        checkpoint_dir or os.path.join(state_dir, "chk"),
    )
    if meta is not None:
        stores.write_meta(state_dir, meta)
    return percentiles_from_value_frequency(
        _sum_epochs(spark, cur_path, _VALUE_FREQ_KEYS, ("c",))
    )


def _percentile_store_dir(sf_dir: str) -> str:
    """Fixed per-sf auto-managed granule store location."""
    return _sf_temp_dir(sf_dir, "pctl_state")


def _events_store(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None,
    auto_dir: str,
    checkpoint_dir: str | None,
) -> tuple[str, dict | None]:
    """(store dir, meta to record after the drain). A caller-given
    ``state_dir`` is used as is, unfingerprinted; the default is the
    fixed per-sf ``auto_dir``, opened through the fingerprint gate
    (``_reset_stale_store``) on the events content and the staged
    source files."""
    if state_dir is not None:
        return state_dir, None
    meta = {
        "fingerprint": _events_fingerprint(spark, sf_dir),
        "source": _staged_files(spark, sf_dir, "events"),
    }
    _reset_stale_store(auto_dir, meta, checkpoint_dir)
    return auto_dir, meta


def _events_fingerprint(spark: SparkSession, sf_dir: str) -> str:
    """Order-insensitive content fingerprint of the events table — one
    count + bit_xor aggregate, the freshness key for the granule
    store."""
    fp_row = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(event_id, value))").alias("h"),
        )
        .collect()[0]
    )
    return f"n={fp_row['n']}|h={fp_row['h']}"


_VALUE_FREQ_KEYS = ("event_type", "iv")


def _value_frequency_or_scan(
    spark: SparkSession,
    sf_dir: str,
    from_freq: Callable[[DataFrame], DataFrame],
    scan: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """``from_freq`` over the fresh value-frequency granules, else
    ``scan`` over the events table — the body of every value-frequency
    ``*_from_store`` reader."""
    freq = _fresh_granules(
        spark, sf_dir, _percentile_store_dir(sf_dir), _VALUE_FREQ_KEYS
    )
    if freq is not None:
        return from_freq(freq)
    return scan(load_table(spark, sf_dir, "events"))


def grouped_percentiles_from_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch p50/p90/p99 per event_type SERVED FROM the streaming-
    maintained value-frequency store when fresh — the continuous-
    aggregate pattern the hierarchical-rollup family already has,
    applied to the selection engine's sufficient statistic (r7 verdict
    task 3): ``streaming_percentile_maintenance`` keeps the exact
    (event_type, iv, count) granules up to date incrementally, so a
    batch caller need not re-scan and re-bucket the raw events table
    every time.

    Freshness gate: the store's recorded fingerprint must match the
    current events table (one count+bit_xor aggregate — no raw-row
    shuffle). Fresh → read the granule parquet (|distinct values| rows,
    independent of event count) and serve via the shared
    ``percentiles_from_value_frequency``. Stale or absent → fall back
    to the scan-path ``grouped_percentiles``; both paths are exact, so
    the result is IDENTICAL either way (pytest-pinned) and the
    registered DuckDB oracle is the same GROUPED_PERCENTILES_SQL.

    At 100 TB this is the difference between an O(|events|) re-scan
    per dashboard refresh and an O(|distinct values|) read: the
    row-grain work happened once, incrementally, in the maintenance
    stream.
    """
    from kinesis_dstream_spark.operators import dataquality as dq

    return _value_frequency_or_scan(
        spark, sf_dir, dq.percentiles_from_value_frequency, dq.grouped_percentiles
    )


def value_ks_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS drift SERVED FROM the streaming-maintained
    value-frequency store when fresh — a second continuous-aggregate
    consumer of the SAME granules as ``grouped_percentiles_from_store``
    (the point of maintaining a sufficient statistic rather than a
    materialized answer: every downstream that is a function of the
    (event_type, iv, count) table — percentiles, KS, Gini, deciles —
    rides one maintenance stream for free).

    Freshness gate and fallback are identical to the percentile path:
    fingerprint match → read |distinct values| granule rows and run
    ``ks_from_value_frequency``; stale/absent → scan-path
    ``value_ks_drift``. Both exact, results identical (pytest-pinned),
    oracle = the same VALUE_KS_DRIFT_SQL.
    """
    from kinesis_dstream_spark.operators import dataquality as dq

    return _value_frequency_or_scan(
        spark, sf_dir, dq.ks_from_value_frequency, dq.value_ks_drift
    )


def rank_normalize_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank/quantile transform SERVED FROM the value-frequency granule
    store when fresh — the THIRD consumer of the percentile granules
    (after grouped percentiles and KS drift): the transform is a pure
    function of the (event_type, iv, count) table, so it rides the
    same maintenance stream for free. Freshness gate and fallback
    identical to the siblings; both paths run
    ``rank_normalize_from_value_frequency`` on a value-identical
    table, oracle = the shared VALUE_RANK_NORMALIZE_SQL."""
    from kinesis_dstream_spark.operators import dataquality as dq

    return _value_frequency_or_scan(
        spark, sf_dir, dq.rank_normalize_from_value_frequency, dq.value_rank_normalize
    )


def gini_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini per event type SERVED FROM the value-frequency
    granule store when fresh — the FOURTH consumer of the percentile
    granules (after grouped percentiles, KS drift, and the rank
    transform): Gini is a pure function of the (event_type, iv, count)
    table (the closed-form rank-sum needs no row order), so it rides
    the same maintenance stream for free. Freshness gate and fallback
    identical to the siblings; both paths run
    ``gini_from_value_frequency`` on a value-identical table, oracle =
    the shared VALUE_GINI_SQL."""
    from kinesis_dstream_spark.operators import dataquality as dq

    return _value_frequency_or_scan(
        spark, sf_dir, dq.gini_from_value_frequency, dq.value_gini_by_type
    )


def trimmed_mean_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trimmed mean per event type SERVED FROM the value-frequency
    granule store when fresh — the FIFTH consumer of the percentile
    granules: pure rank arithmetic over (event_type, iv, count), so it
    rides the same maintenance stream. Freshness gate and fallback
    identical to the siblings; both paths run
    ``trimmed_mean_from_value_frequency`` on a value-identical table,
    oracle = the shared VALUE_TRIMMED_MEAN_SQL."""
    from kinesis_dstream_spark.operators import dataquality as dq

    return _value_frequency_or_scan(
        spark, sf_dir, dq.trimmed_mean_from_value_frequency, dq.value_trimmed_mean
    )


def tukey_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier accounting SERVED FROM the value-frequency
    granule store when fresh — the SIXTH consumer of the percentile
    granules (quartiles, fences, and outside-mass sums are all pure
    functions of (event_type, iv, count)). Freshness gate and fallback
    identical to the siblings; oracle = the shared
    VALUE_TUKEY_OUTLIERS_SQL."""
    from kinesis_dstream_spark.operators import dataquality as dq

    return _value_frequency_or_scan(
        spark, sf_dir, dq.tukey_outliers_from_value_frequency, dq.value_tukey_outliers
    )


def wasserstein_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 type-vs-rest drift SERVED FROM the value-frequency
    granule store when fresh — the SEVENTH consumer of the percentile
    granules (the W1 grid integral is a pure function of
    (event_type, iv, count), exactly like KS). Freshness gate and
    fallback identical to the siblings; both paths run
    ``wasserstein_from_value_frequency`` on a value-identical table,
    oracle = the shared VALUE_WASSERSTEIN_SQL."""
    from kinesis_dstream_spark.operators import dataquality as dq

    return _value_frequency_or_scan(
        spark, sf_dir, dq.wasserstein_from_value_frequency, dq.value_wasserstein_drift
    )


def theil_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil decomposition SERVED FROM the value-frequency granule
    store when fresh — the EIGHTH consumer of the percentile granules
    (the decomposition is a pure function of (event_type, iv, count)).
    Freshness gate and fallback identical to the siblings; oracle =
    the shared VALUE_THEIL_SQL."""
    from kinesis_dstream_spark.operators import dataquality as dq

    return _value_frequency_or_scan(
        spark, sf_dir, dq.theil_from_value_frequency, dq.value_theil_decomposition
    )


def _dailyc_store_dir(sf_dir: str) -> str:
    """Fixed per-sf daily-granule store location. ``v2``: the granule
    schema widened in r9 from (type, d, c) to the value-moment form
    (type, d, c, sy, syy) — versioning the path retires any v1 store
    in place instead of serving rows that lack the new columns."""
    return _sf_temp_dir(sf_dir, "dailyc_state_v2")


def streaming_daily_count_maintenance(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of the (event_type, d, c, sy, syy) DAILY
    granules — the shared sufficient statistic of the daily-series
    family (``eventflow.daily_value_moments``, a strict superset of
    the daily counts): seasonal decomposition, autocorrelation, the
    residual anomaly bands, the value trend regression, and any other
    function of the daily series read this one maintained table
    instead of re-scanning events.

    Maintenance class: ADDITIVE (counts merge losslessly under any
    batching), so the replay story is the epoch-keyed upsert shared
    with the percentile granules: each granule carries its foreachBatch
    batch_id; upsert deletes-own-epoch-then-writes, making re-delivery
    of any epoch idempotent. Same fixed-per-sf store + content
    fingerprint + checkpoint-dies-with-state rules as
    ``streaming_percentile_maintenance`` (the r7-ADVICE wipe pairing).

    The drained output is the seasonal decomposition computed from the
    maintained granules — batch-equal by additivity, so the registry
    wires it to the identical DAILY_SEASONAL_SQL oracle.
    """
    from kinesis_dstream_spark.operators.eventflow import (
        daily_value_moments,
        seasonal_from_daily_counts,
    )

    state_dir, meta = _events_store(
        spark, sf_dir, state_dir, _dailyc_store_dir(sf_dir), checkpoint_dir
    )
    cur_path = os.path.join(state_dir, "current")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        # r9: the granule carries the value moments too (c, sy, syy) —
        # still additive, same replay semantics; the counts consumers
        # simply project c
        _epoch_upsert(
            spark,
            daily_value_moments(batch_df),
            batch_id,
            cur_path,
            os.path.join(state_dir, f"tmp_{batch_id}"),
        )

    _drain(
        _staged_stream(spark, sf_dir, "events"),
        upsert,
        checkpoint_dir or os.path.join(state_dir, "chk"),
    )
    if meta is not None:
        stores.write_meta(state_dir, meta)
    return seasonal_from_daily_counts(
        _sum_epochs(spark, cur_path, _DAILY_KEYS, ("c",))
    )


_DAILY_KEYS = ("event_type", "d")
_DAILY_MOMENTS = ("c", "sy", "syy")


def _daily_or_scan(
    spark: SparkSession,
    sf_dir: str,
    from_daily: Callable[[DataFrame], DataFrame],
    scan: Callable[[DataFrame], DataFrame],
    sums: tuple[str, ...] = ("c",),
) -> DataFrame:
    """``from_daily`` over the fresh daily granules (``sums`` projected
    and summed over epochs), else ``scan`` over the events table — the
    body of every daily-series ``*_from_store`` reader."""
    daily = _fresh_granules(
        spark, sf_dir, _dailyc_store_dir(sf_dir), _DAILY_KEYS, sums
    )
    if daily is not None:
        return from_daily(daily)
    return scan(load_table(spark, sf_dir, "events"))


def seasonal_decomposition_from_store(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonal decomposition SERVED FROM the daily-count granule
    store when fresh; scan-path fallback otherwise. Both paths run the
    SAME ``seasonal_from_daily_counts`` on a value-identical daily
    table, so results are identical either way (pytest-pinned) and the
    oracle is the shared DAILY_SEASONAL_SQL. At 100 TB: an O(|days|)
    read instead of an O(|events|) re-scan per refresh."""
    from kinesis_dstream_spark.operators import eventflow as ef

    return _daily_or_scan(
        spark, sf_dir, ef.seasonal_from_daily_counts, ef.daily_seasonal_decomposition
    )


def daily_autocorr_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation SERVED FROM the same daily-count granules — the
    second consumer (the sufficient-statistic argument again: one
    maintenance stream, every daily-series functional reads it)."""
    from kinesis_dstream_spark.operators import eventflow as ef

    return _daily_or_scan(
        spark, sf_dir, ef.autocorr_from_daily_counts, ef.daily_count_autocorr
    )


def _daily_moments_if_fresh(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """The full (event_type, d, c, sy, syy) granule table when the
    store is fresh, else None — the moment projection
    ``value_trend_from_store`` reads."""
    return _fresh_granules(
        spark, sf_dir, _dailyc_store_dir(sf_dir), _DAILY_KEYS, _DAILY_MOMENTS
    )


def value_trend_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type value trend regression SERVED FROM the daily-moment
    granules — the store's third consumer (r8-verdict task 7): the
    five sufficient statistics fold exactly onto (c, sy, syy) by day,
    so both paths run ``value_trend_from_daily_moments`` on a
    value-identical table and share VALUE_TREND_REGRESSION_SQL. At
    100 TB: an O(|types|·|days|) read instead of an O(|events|)
    re-scan per drift check."""
    from kinesis_dstream_spark.operators import eventflow as ef

    return _daily_or_scan(
        spark,
        sf_dir,
        ef.value_trend_from_daily_moments,
        ef.value_trend_regression,
        _DAILY_MOMENTS,
    )


def seasonal_anomaly_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-band anomaly flags SERVED FROM the daily granules —
    the store's fourth consumer; counts project out of the moment
    rows, both paths run ``seasonal_anomaly_from_daily_counts`` on a
    value-identical table and share SEASONAL_ANOMALY_SQL."""
    from kinesis_dstream_spark.operators import eventflow as ef

    return _daily_or_scan(
        spark, sf_dir, ef.seasonal_anomaly_from_daily_counts, ef.seasonal_anomaly_bands
    )


def cusum_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-count CUSUM shift monitor SERVED FROM the granules — the
    store's fifth consumer (r11). A change-point monitor is exactly
    the consumer a continuous aggregate exists for: it re-evaluates on
    every refresh, so reading O(|types|·|days|) granules instead of
    re-scanning O(|events|) per check is the whole economics. Both
    paths run ``cusum_from_daily_counts`` on a value-identical table
    and share CUSUM_SHIFT_SQL."""
    from kinesis_dstream_spark.operators import eventflow as ef

    return _daily_or_scan(
        spark, sf_dir, ef.cusum_from_daily_counts, ef.cusum_shift_detection
    )


def mann_kendall_from_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall/Theil–Sen trend test SERVED FROM the granules —
    the store's sixth consumer; same freshness gate, same shared
    MANN_KENDALL_SQL oracle. ONE maintenance stream now serves six
    batch statistics (seasonal decomposition, autocorrelation, trend
    regression, residual anomaly bands, CUSUM, MK) — the
    sufficient-statistic argument in its strongest form."""
    from kinesis_dstream_spark.operators import eventflow as ef

    return _daily_or_scan(
        spark, sf_dir, ef.mann_kendall_from_daily_counts, ef.mann_kendall_trend
    )


def streaming_transition_maintenance(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of the Markov transition view
    (operators/eventflow.event_transition_matrix) — incremental upkeep
    of an ORDER-SENSITIVE aggregate, which additive granules cannot
    express: a consecutive (prev → next) pair can span a micro-batch
    boundary, and late/out-of-order rows can split previously-adjacent
    pairs, so per-batch pair counts are NOT mergeable.

    The affected-key recompute pattern (same as streaming_scd2): per
    batch (1) replay-guard new events against the event store on
    event_id; (2) affected users = the batch's users, computed BEFORE
    the guard so a replayed batch still repairs its users' partials if
    a prior run crashed between the event append and the partial
    rewrite; (3) append the genuinely-new events; (4) recompute the
    per-user (prev, next) pair counts for affected users only from the
    store, and overwrite just those users' partial rows. Untouched
    users' partials carry over verbatim — at scale both stores are
    user-partitioned so the rewrite is partition-pruned, and the
    append-only event store takes the chunk-store compaction pass.

    The drained rollup (sum partials, per-source normalize) must equal
    the batch twin over the full table — the registry wires it to the
    identical SQL oracle.
    """
    from pyspark.sql import Window

    store_dir = store_dir or tempfile.mkdtemp(prefix="kds_trans_store_")
    ev_store = os.path.join(store_dir, "events")
    pair_store = os.path.join(store_dir, "pairs")
    cols = ["user_id", "event_id", "event_type", "ts"]

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(*cols).dropDuplicates(["event_id"])
        affected = batch.select("user_id").distinct().localCheckpoint()
        if os.path.exists(ev_store):
            new_rows = batch.join(
                spark.read.parquet(ev_store).select("event_id"),
                "event_id",
                "left_anti",
            )
        else:
            new_rows = batch
        new_rows.write.mode("append").parquet(ev_store)
        aff_events = spark.read.parquet(ev_store).join(affected, "user_id")
        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        partials = (
            aff_events.select(
                "user_id",
                F.lag("event_type").over(w).alias("prev_type"),
                F.col("event_type").alias("next_type"),
            )
            .where(F.col("prev_type").isNotNull())
            .groupBy("user_id", "prev_type", "next_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        merged = partials
        if os.path.exists(pair_store):
            kept = spark.read.parquet(pair_store).join(
                affected, "user_id", "left_anti"
            )
            merged = kept.unionByName(partials)
        tmp = os.path.join(store_dir, f"pairs_tmp_{batch_id}")
        merged.write.mode("overwrite").parquet(tmp)
        swap_dir(tmp, pair_store)

    _drain(
        _staged_stream(spark, sf_dir, "events"),
        merge,
        checkpoint_dir or os.path.join(store_dir, "chk"),
    )
    counts = (
        spark.read.parquet(pair_store)
        .groupBy("prev_type", "next_type")
        .agg(F.sum("n").alias("n_transitions"))
    )
    from pyspark.sql import Window as W2

    wp = W2.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(wp), 4
        ).alias("transition_pct"),
    )


def streaming_rfm_maintenance(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of the RFM segmentation's per-user granules
    (operators/eventflow.rfm_segments): recency (max purchase ts),
    frequency (count), monetary (fixed-point sum) are ALL mergeable —
    max by max, counts/sums by addition — so the granule store takes the
    batch-id-keyed idempotent upsert (the continuous-aggregate pattern:
    replay overwrites its own epoch, never double-counts). The
    NON-mergeable part — global quartiling — runs at drain over the
    merged per-user granules, where it is exact. Drained output shares
    the batch ``rfm_segments`` oracle.

    This is the general shape for segmentation-over-stream: keep the
    distributive statistics incremental, defer the holistic step (ntile)
    to serve time where it costs O(|users|), not O(|events|).
    """
    from kinesis_dstream_spark.functions.exact import fixedpoint
    from kinesis_dstream_spark.operators import eventflow

    state_dir = state_dir or tempfile.mkdtemp(prefix="kds_rfm_state_")
    cur_path = os.path.join(state_dir, "current")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.where(F.col("event_type") == "purchase")
            .groupBy("user_id")
            .agg(
                F.max("ts").alias("last_ts"),
                F.count(F.lit(1)).alias("n"),
                F.sum(fixedpoint(F.col("value"), 100)).alias("s"),
            )
        )
        tmp = os.path.join(state_dir, f"tmp_{batch_id}")
        _epoch_upsert(spark, partials, batch_id, cur_path, tmp)

    _drain(
        _staged_stream(spark, sf_dir, "events"),
        upsert,
        checkpoint_dir or os.path.join(state_dir, "chk"),
    )
    horizon = F.lit("2024-02-01").cast("timestamp")
    per_user = (
        spark.read.parquet(cur_path)
        .groupBy("user_id")
        .agg(
            F.datediff(horizon, F.max("last_ts")).alias("recency_days"),
            F.sum("n").alias("frequency"),
            F.sum("s").alias("monetary_fp"),
        )
    )
    return eventflow.rfm_from_per_user(per_user)


def streaming_ab_ztest_maintenance(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of the A/B test's user-grain granules —
    the FIFTH hash-certified streaming job (after the tumbling counts,
    the det-IVF / det-IVF-PQ / det-IVF-SQ8 ingests): the experiment
    dashboard every product team keeps live. The sufficient statistic
    of ``eventflow.ab_conversion_ztest`` is the (user_id, conv) table
    and conv is MERGEABLE (max of purchase flags), so per-batch
    partials take the batch-id-keyed idempotent upsert (replay
    overwrites its own epoch — the continuous-aggregate pattern) and
    the z-test readout at drain runs over |users| granule rows, not
    |events|. Drained output shares the batch AB_CONVERSION_ZTEST_SQL
    oracle — the streaming path is certified by the SAME value hash
    as the batch scan.

    At 100 TB the point is the grain: a replayed or resumed stream
    never re-scans history — each micro-batch pays its own user-grain
    partial, and the holistic statistic (two-proportion z) costs
    O(|users|) at serve time.
    """
    from kinesis_dstream_spark.operators import eventflow

    state_dir = state_dir or tempfile.mkdtemp(prefix="kds_ab_state_")
    cur_path = os.path.join(state_dir, "current")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.groupBy("user_id")
            .agg(
                F.max(
                    (F.col("event_type") == "purchase").cast("int")
                ).alias("conv")
            )
        )
        tmp = os.path.join(state_dir, f"tmp_{batch_id}")
        _epoch_upsert(spark, partials, batch_id, cur_path, tmp)

    _drain(
        _staged_stream(spark, sf_dir, "events"),
        upsert,
        checkpoint_dir or os.path.join(state_dir, "chk"),
    )
    users = (
        spark.read.parquet(cur_path)
        .groupBy("user_id")
        .agg(F.max("conv").alias("conv"))
    )
    return eventflow.ab_ztest_from_user_conversions(users)


def streaming_sentence_dedup_maintenance(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of the sentence-dedup accounting — the
    SIXTH hash-certified streaming job. The insight that makes the
    CCNet boilerplate pass incremental: the keeper rule (global
    (doc_id, pos)-first occurrence) is a pure MIN, so the granule
    (sent, doc_id, source, n_occ, min_pos, sent_chars) merges by
    (sum, min) — a batch can arrive in any order, be replayed, or be
    split arbitrarily and the drained readout is bit-identical to the
    batch scan (shared SENTENCE_DEDUP_STATS_SQL oracle). Granule grain
    is (sentence, document) — the corpus compresses to its distinct
    sentence-placements; no raw text is re-scanned at serve time.

    Readout reconstruction at drain: keeper of a sentence = min
    (doc_id, min_pos) over its granules; per source —
    occurrences = Σ n_occ, removable = Σ n_occ − (keepers hosted),
    removable_chars likewise, docs_affected = docs whose granule mass
    exceeds its keeper credit. Identical numbers to the window-rank
    formulation, derived without any per-occurrence state.
    """
    from pyspark.sql import Window

    state_dir = state_dir or tempfile.mkdtemp(prefix="kds_sdedup_state_")
    cur_path = os.path.join(state_dir, "current")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        segs = batch_df.select(
            "doc_id",
            "source",
            F.filter(
                F.transform(
                    F.split(F.col("text"), r"[.!?]+"), lambda t: F.trim(t)
                ),
                lambda t: t != "",
            ).alias("ss"),
        )
        occ = segs.select(
            "doc_id", "source", F.posexplode("ss").alias("pos", "sent")
        )
        partials = (
            occ.groupBy("sent", "doc_id", "source")
            .agg(
                F.count(F.lit(1)).alias("n_occ"),
                F.min("pos").alias("min_pos"),
                F.max(F.length("sent")).alias("sent_chars"),
            )
        )
        tmp = os.path.join(state_dir, f"tmp_{batch_id}")
        _epoch_upsert(spark, partials, batch_id, cur_path, tmp)

    _drain(
        _staged_stream(spark, sf_dir, "documents"),
        upsert,
        checkpoint_dir or os.path.join(state_dir, "chk"),
    )
    g = (
        spark.read.parquet(cur_path)
        .groupBy("sent", "doc_id", "source")
        .agg(
            F.sum("n_occ").alias("n_occ"),
            F.min("min_pos").alias("min_pos"),
            F.max("sent_chars").alias("sent_chars"),
        )
    )
    kw = Window.partitionBy("sent").orderBy("doc_id", "min_pos")
    flagged = g.withColumn("is_keeper", (F.row_number().over(kw) == 1).cast("int"))
    per_doc = flagged.select(
        "source",
        "doc_id",
        "n_occ",
        "sent_chars",
        "is_keeper",
        (F.col("n_occ") - F.col("is_keeper")).alias("rem_occ"),
        ((F.col("n_occ") - F.col("is_keeper")) * F.col("sent_chars")).alias(
            "rem_chars"
        ),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.sum("n_occ").alias("n_sentences"),
            F.sum("rem_occ").alias("removable"),
            F.sum("rem_chars").alias("removable_chars"),
            F.countDistinct(
                F.when(F.col("rem_occ") > 0, F.col("doc_id"))
            ).alias("docs_affected"),
        )
        .select(
            "source",
            "n_docs",
            "n_sentences",
            "removable",
            "removable_chars",
            "docs_affected",
            F.expr("removable * 1000000 div n_sentences").alias(
                "removable_ppm"
            ),
        )
    )


def streaming_pmi_maintenance(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of the PMI collocation tables — the
    SEVENTH hash-certified streaming job: phrase vocabularies in
    production are maintained over a document FEED, not refit from
    scratch, and every sufficient statistic of the PMI ranking is a
    mergeable SUM — unigram counts, adjacent-bigram counts, and the
    two totals all add across batches (documents never split across
    micro-batches, so no bigram straddles a boundary). Per-batch
    partials take the batch-id-keyed idempotent upsert; the drained
    readout re-runs the exact top-k arithmetic over the merged counts
    and shares TOKEN_PMI_COLLOCATIONS_SQL bit-for-bit.

    Granule grain: (w1, w2) bigram counts + (w) unigram counts — the
    corpus compresses to its distinct-adjacency table; the raw text
    is touched once per arriving batch, never again.
    """
    from kinesis_dstream_spark.functions.textfns import tokens
    from pyspark.sql import Window

    state_dir = state_dir or tempfile.mkdtemp(prefix="kds_pmi_state_")
    uni_path = os.path.join(state_dir, "uni")
    big_path = os.path.join(state_dir, "big")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        toks = batch_df.select("doc_id", tokens(F.col("text")).alias("t"))
        words = toks.select("doc_id", F.posexplode("t").alias("pos", "w"))
        w = Window.partitionBy("doc_id").orderBy("pos")
        big = (
            words.withColumn("w2", F.lead("w").over(w))
            .filter(F.col("w2").isNotNull())
            .select(F.col("w").alias("w1"), "w2")
        )
        uni_part = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
        big_part = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
        for path, part in ((uni_path, uni_part), (big_path, big_part)):
            tmp = os.path.join(state_dir, f"tmp_{os.path.basename(path)}_{batch_id}")
            _epoch_upsert(spark, part, batch_id, path, tmp)

    _drain(
        _staged_stream(spark, sf_dir, "documents"),
        upsert,
        checkpoint_dir or os.path.join(state_dir, "chk"),
    )
    # drain: the scoring chain and thresholds are IMPORTED from the
    # batch operator (ADVICE r11) — the registered oracle is built from
    # token_pmi_collocations' defaults, so the drain must share them by
    # construction, not by a hand-copied (5, 50)
    from kinesis_dstream_spark.operators.text import pmi_score_topk

    uni = (
        spark.read.parquet(uni_path).groupBy("w").agg(F.sum("c").alias("c"))
    )
    pair = (
        spark.read.parquet(big_path)
        .groupBy("w1", "w2")
        .agg(F.sum("c").alias("c_xy"))
    )
    n_uni = uni.agg(F.sum("c")).collect()[0][0]
    n_big = (
        spark.read.parquet(big_path).agg(F.sum("c")).collect()[0][0]
    )
    return pmi_score_topk(uni, pair, n_uni, n_big)


def streaming_cohort_maintenance(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of cohort retention's base view: the
    DISTINCT (user_id, activity_day) set — SET-SEMANTICS granules, the
    fourth maintenance class of the module docstring (append-if-absent).

    Insertion into a set is naturally idempotent, so replay safety needs
    only the anti-join guard on the key — no batch-id bookkeeping. The
    cohort shaping (per-user first-touch min, week offsets, distinct
    counts, offset-0 normalization) runs at drain over the |user×day|
    store — ~3 orders smaller than the event log it summarizes. Late
    first-touch arrivals are handled FOR FREE by drain-time shaping:
    an earlier day appearing later just becomes the new min — exactly
    the case that breaks eager per-event cohort labeling.

    Drained output shares the batch ``cohort_retention`` oracle.
    """
    store_dir = store_dir or tempfile.mkdtemp(prefix="kds_cohort_store_")
    cur = os.path.join(store_dir, "user_days")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        days = (
            batch_df.select("user_id", F.to_date("ts").alias("day")).distinct()
        )
        _append_absent(spark, days, ["user_id", "day"], cur)

    _drain(
        _staged_stream(spark, sf_dir, "events"),
        upsert,
        checkpoint_dir or os.path.join(store_dir, "chk"),
    )

    from pyspark.sql import Window as W

    store = spark.read.parquet(cur)
    wuser = W.partitionBy("user_id")
    shaped = (
        store.withColumn("first_day", F.min("day").over(wuser))
        .select(
            "user_id",
            F.expr("datediff(first_day, DATE '2024-01-01') DIV 7").alias(
                "cohort_week"
            ),
            F.expr("datediff(day, first_day) DIV 7").alias("week_offset"),
        )
    )
    counts = shaped.groupBy("cohort_week", "week_offset").agg(
        F.countDistinct("user_id").alias("active_users")
    )
    wc = W.partitionBy("cohort_week")
    return counts.select(
        "cohort_week",
        "week_offset",
        "active_users",
        F.round(
            F.col("active_users")
            / F.max(F.when(F.col("week_offset") == 0, F.col("active_users"))).over(wc),
            4,
        ).alias("retention_pct"),
    )


def streaming_gapfill_maintenance(
    spark: SparkSession,
    sf_dir: str,
    state_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Streaming maintenance of the gap-fill series' hourly granules
    (operators/eventflow.gap_fill_interpolate): hourly (count,
    fixed-point sum) partials are ADDITIVE → batch-id-keyed idempotent
    upsert, same class as the hierarchical rollup. The spine generation
    and LOCF/interpolation windows run at drain over the merged hourly
    table (span-bounded, not corpus-bounded) — and late data is
    absorbed exactly: a late event just adds into its hour's partials,
    and every interpolated value downstream of that hour is recomputed
    at drain, where eager per-gap materialization would have gone stale.

    Drained output shares the batch ``gap_fill_interpolate`` oracle.
    """
    from kinesis_dstream_spark.functions.exact import fixedpoint
    from kinesis_dstream_spark.operators import eventflow

    state_dir = state_dir or tempfile.mkdtemp(prefix="kds_gapfill_state_")
    cur_path = os.path.join(state_dir, "current")

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        partials = (
            batch_df.select(
                "event_type",
                F.expr(
                    "unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000"
                ).alias("hidx"),
                fixedpoint(F.col("value"), 100).alias("iv"),
            )
            .groupBy("event_type", "hidx")
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("iv").alias("s"))
        )
        tmp = os.path.join(state_dir, f"tmp_{batch_id}")
        _epoch_upsert(spark, partials, batch_id, cur_path, tmp)

    _drain(
        _staged_stream(spark, sf_dir, "events"),
        upsert,
        checkpoint_dir or os.path.join(state_dir, "chk"),
    )
    hourly = (
        spark.read.parquet(cur_path)
        .groupBy("event_type", "hidx")
        .agg(F.sum("n_events").alias("n_events"), F.sum("s").alias("s"))
    )
    return eventflow.gap_fill_from_hourly(hourly)


def _exploded_pair_jaccard(
    a_rows: DataFrame, b_rows: DataFrame, threshold: float, same_side: bool
) -> DataFrame:
    """Exact-Jaccard qualifying pairs between two exploded
    (doc_id, shingle, n_sh) sides — the ``dedup_ngram_jaccard`` join
    body, factored so the incremental maintenance job computes pair
    scores with the IDENTICAL expressions (same length-ratio prefilter,
    same 6dp rounding) as the batch builder.

    ``same_side=True``: self-join, emit each unordered pair once via
    ``a.doc_id < b.doc_id``. ``same_side=False``: the sides hold
    DISJOINT doc sets (batch x history); pairs are oriented with
    least/greatest after the join.
    """
    a = a_rows.alias("a")
    b = b_rows.alias("b")
    eps = 1e-9  # a pair at exactly J = t must survive the prefilter
    cond = (F.col("a.shingle") == F.col("b.shingle")) & (
        F.least(F.col("a.n_sh"), F.col("b.n_sh"))
        >= threshold * F.greatest(F.col("a.n_sh"), F.col("b.n_sh")) - eps
    )
    if same_side:
        cond = cond & (F.col("a.doc_id") < F.col("b.doc_id"))
    joined = a.join(b, cond)
    a_first = F.col("a.doc_id") < F.col("b.doc_id")
    inter = joined.groupBy(
        F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
        F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        F.when(a_first, F.col("a.n_sh")).otherwise(F.col("b.n_sh")).alias("n_a"),
        F.when(a_first, F.col("b.n_sh")).otherwise(F.col("a.n_sh")).alias("n_b"),
    ).agg(F.count("*").alias("n_inter"))
    jac = F.round(
        F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
    )
    return (
        inter.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def streaming_near_dup_pairs_maintenance(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str | None = None,
    checkpoint_dir: str | None = None,
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """Incremental maintenance of the NEAR-DUP PAIRS artifact
    (operators/pairs_store.py) — the streaming half of its lifecycle.

    The batch builder recomputes the corpus-wide shingle join per
    snapshot; at 100 TB you never do that for a daily delta. This job
    maintains the pair store incrementally on an EXACT decomposition:
    every unordered qualifying pair {a, b} is discovered exactly once,
    in the micro-batch where its LATER document arrives — as an
    intra-batch pair (both in the batch) or a cross pair (batch x
    shingle history). Under a FIXED retained-shingle vocabulary the
    union over batches therefore equals the batch builder's output
    row-for-row, which is what the registry oracle (the
    dedup_ngram_jaccard SQL twin) checks.

    Frozen-vocabulary contract (the dedup_index frozen-params /
    streaming_ann_index frozen-codebook convention): the df-cap hot-
    shingle set is computed ONCE at bootstrap from the batch corpus
    and persisted; each batch's shingles are filtered against it and
    per-doc retained counts (n_sh) are computed doc-locally at ingest —
    so pair scores never depend on when a document arrived. A
    production deployment bootstraps the hot set from a representative
    sample and periodically re-freezes + rebuilds via the batch
    builder (the compaction convention); a shingle crossing the cap
    mid-stream changes the retained vocabulary and thus the Jaccard
    DEFINITION, so it requires a rebuild, not silent drift.

    Replay safety: novel-doc filtering (anti-join on the shingle
    store's doc_ids) makes a re-delivered batch a complete no-op —
    no duplicate shingle rows (which would inflate n_inter), no
    duplicate pairs. Pytest drains twice and asserts both stores are
    unchanged.

    Scale shape per batch: the batch side of every join is small by
    contract and broadcasts; the history side is scanned once, keyed by
    shingle with the frozen cap bounding per-key fan-out — the same
    skew guard as the batch builder. State is plain parquet; appends
    are one file-set per batch (compaction: pairs_store_compact).
    """
    from kinesis_dstream_spark.operators.dedup import _shingle_hash_sets
    from kinesis_dstream_spark.operators.dedup_index import corpus_fingerprint

    # Fixed per-sf store (the kds_gov_stream_/kds_ndpairs_ one-copy
    # temp-bound convention): repeat invocations at the same sf drain
    # zero new files against the existing checkpoint and serve the
    # stored pairs — the operator's actual incremental cost, instead of
    # re-paying the full bootstrap per call and leaking a store copy.
    # Content+params fingerprint (dedup_index convention) wipes and
    # rebuilds on regenerated fixtures, changed pair definitions or a
    # re-staged source (``_staged_files``).
    store_dir = store_dir or _sf_temp_dir(sf_dir, "pairstream")
    meta = {
        "fingerprint": corpus_fingerprint(
            load_table(spark, sf_dir, "documents"), k=k, threshold=threshold
        ),
        "k": k,
        "threshold": threshold,
        "source": _staged_files(spark, sf_dir, "documents"),
    }
    _reset_stale_store(store_dir, meta, checkpoint_dir)
    rows_path = os.path.join(store_dir, "shingle_rows")
    pairs_path = os.path.join(store_dir, "pairs")
    hot_path = os.path.join(store_dir, "hot")

    def exploded_retained(docs: DataFrame) -> DataFrame:
        """(doc_id, shingle, n_sh) under the FROZEN hot set."""
        from pyspark.sql import Window

        ex = (
            _shingle_hash_sets(docs, k)
            .select("doc_id", F.explode("shingles").alias("shingle"))
            .join(spark.read.parquet(hot_path), "shingle", "left_anti")
        )
        return ex.withColumn(
            "n_sh", F.count("*").over(Window.partitionBy("doc_id"))
        )

    # bootstrap: freeze the df-cap vocabulary from the batch corpus
    # (one tiny table of hot shingles; written once, reused by every
    # batch and by replays)
    if not os.path.exists(hot_path):
        import math

        full = load_table(spark, sf_dir, "documents")
        max_df = max(20, math.ceil(0.02 * full.count()))
        (
            _shingle_hash_sets(full, k)
            .select("doc_id", F.explode("shingles").alias("shingle"))
            .groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") > max_df)
            .select("shingle")
            .write.mode("overwrite")
            .parquet(hot_path)
        )

    def ingest(batch_df: DataFrame, batch_id: int) -> None:
        docs = batch_df.select("doc_id", "text")
        if os.path.exists(rows_path):
            seen = spark.read.parquet(rows_path).select("doc_id").distinct()
            docs = docs.join(seen, "doc_id", "left_anti")
        ex_b = exploded_retained(docs).localCheckpoint()
        intra = _exploded_pair_jaccard(ex_b, ex_b, threshold, same_side=True)
        if os.path.exists(rows_path):
            hist = spark.read.parquet(rows_path)
            cross = _exploded_pair_jaccard(ex_b, hist, threshold, same_side=False)
            new_pairs = intra.unionByName(cross)
        else:
            new_pairs = intra
        _append_absent(spark, new_pairs, ["doc_a", "doc_b"], pairs_path)
        ex_b.write.mode("append").parquet(rows_path)

    # two files per trigger: still a genuine multi-batch drain (intra-
    # and cross-batch pair discovery both exercised, replay pytest
    # unchanged) at half the fixed per-micro-batch overhead
    _drain(
        _staged_stream(spark, sf_dir, "documents", files_per_trigger=2),
        ingest,
        checkpoint_dir or os.path.join(store_dir, "chk"),
    )
    stores.write_meta(store_dir, meta)
    return spark.read.parquet(pairs_path)


def streaming_erasure_propagation(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Erasure requests processed as a STREAM against the persisted
    derived stores (E-9 x E-18): in production, right-to-be-forgotten
    requests arrive continuously on a queue and must propagate to every
    store within the compliance window — not wait for a batch job.

    Each micro-batch of (key_kind, key) requests is applied to the
    on-disk stores with the same physical erase the batch path uses
    (broadcast anti-join + aside-rename swap rewrite): doc-keyed requests
    hit the chunk store and both MinHash index tables, vec-keyed
    requests hit the ANN index. Anti-join erasure COMMUTES over request
    batching (erasing R1 then R2 equals erasing R1 ∪ R2) and is
    idempotent (a replayed request erases nothing new), so the drained
    accounting equals the batch six-store report's derived-store rows
    exactly — which is what the registry oracle checks — and replays
    are safe with no extra machinery (pytest drains twice).

    Scale shape: requests per batch are tiny and broadcast; each store
    pays one scan + rewrite per batch — production batches requests per
    trigger interval precisely to amortize this, and a
    subject-partitioned layout prunes the rewrite to affected
    partitions.
    """
    from kinesis_dstream_spark.operators.governance import (
        _ensure_gov_stores,
        erase_parquet_store,
    )

    pristine = _ensure_gov_stores(
        spark, sf_dir, _sf_temp_dir(sf_dir, "gov_stores")
    )
    # fixed per-sf work dir: reuse-if-exists is CORRECT here because
    # anti-join erasure is idempotent — a rerun against already-erased
    # copies drains zero new requests and reports identical accounting
    # (rows_before always comes from the pristine stores). Also bounds
    # temp growth to one copy.
    work_dir = work_dir or _sf_temp_dir(sf_dir, "gov_stream")
    copies = {}
    for name, src in pristine.items():
        dst = os.path.join(work_dir, name)
        if not os.path.exists(dst):
            shutil.copytree(src, dst)
        copies[name] = dst

    # stage the request queue as a 4-file parquet dir (multi-batch drain)
    req_dir = os.path.join(work_dir, "requests")
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    requests = (
        docs.select(F.lit("doc").alias("key_kind"), F.col("doc_id").alias("key"))
        .where(F.col("key") % 37 == 0)
        .unionByName(
            emb.select(
                F.lit("vec").alias("key_kind"), F.col("vec_id").alias("key")
            ).where(F.col("key") % 37 == 0)
        )
    )
    if not os.path.exists(os.path.join(req_dir, "_SUCCESS")):
        requests.repartition(4).write.mode("overwrite").parquet(req_dir)

    doc_stores = [
        os.path.join(copies["chunk_store"], "chunks"),
        os.path.join(copies["minhash_dedup_index"], "bands"),
        os.path.join(copies["minhash_dedup_index"], "shingles"),
    ]

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        doc_req = (
            batch_df.filter(F.col("key_kind") == "doc")
            .select(F.col("key").alias("doc_id"))
            .localCheckpoint()
        )
        vec_req = (
            batch_df.filter(F.col("key_kind") == "vec")
            .select(F.col("key").alias("vec_id"))
            .localCheckpoint()
        )
        if doc_req.count() > 0:
            for p in doc_stores:
                erase_parquet_store(spark, p, doc_req, "doc_id")
        if vec_req.count() > 0:
            erase_parquet_store(spark, copies["ann_index"], vec_req, "vec_id")

    _drain(
        _file_stream(spark, req_dir),
        apply_batch,
        checkpoint_dir or os.path.join(work_dir, "chk"),
    )

    # accounting: before from pristine, after read back from disk
    from functools import reduce

    reports = []
    for name in ("ann_index", "chunk_store", "minhash_dedup_index"):
        if name == "ann_index":
            pre = [pristine[name]]
            post = [copies[name]]
        elif name == "chunk_store":
            pre = [os.path.join(pristine[name], "chunks")]
            post = [os.path.join(copies[name], "chunks")]
        else:
            pre = [os.path.join(pristine[name], s) for s in ("bands", "shingles")]
            post = [os.path.join(copies[name], s) for s in ("bands", "shingles")]
        before = reduce(
            lambda a, b: a.crossJoin(b),
            [
                spark.read.parquet(p).agg(F.count(F.lit(1)).alias(f"b{i}"))
                for i, p in enumerate(pre)
            ],
        ).select(sum(F.col(f"b{i}") for i in range(len(pre))).alias("rows_before"))
        after = reduce(
            lambda a, b: a.crossJoin(b),
            [
                spark.read.parquet(p).agg(F.count(F.lit(1)).alias(f"a{i}"))
                for i, p in enumerate(post)
            ],
        ).select(sum(F.col(f"a{i}") for i in range(len(post))).alias("rows_after"))
        reports.append(
            before.crossJoin(after).select(
                F.lit(name).alias("store"),
                "rows_before",
                (F.col("rows_before") - F.col("rows_after")).alias("rows_erased"),
                "rows_after",
            )
        )
    return reduce(lambda a, b: a.unionByName(b), reports)


def pairs_store_compact(
    spark: SparkSession, store_dir: str, max_files: int = 8
) -> dict[str, int]:
    """Bound the per-batch file growth of the streaming pairs store:
    rewrite each sub-table (pairs, shingle_rows) whose parquet file
    count exceeds the threshold, via tmp-dir + aside-rename swap (every
    persisted append path here carries a compaction pass — ann_index /
    dedup_index / chunk_store set the convention). Content is
    byte-identical before/after (pytest); the frozen hot table is a
    single write and never needs compaction.
    """
    stats = {"tables_compacted": 0, "files_before": 0, "files_after": 0}
    for sub in ("pairs", "shingle_rows"):
        cur = os.path.join(store_dir, sub)
        files = glob.glob(os.path.join(cur, "*.parquet"))
        stats["files_before"] += len(files)
        if len(files) <= max_files:
            stats["files_after"] += len(files)
            continue
        df = spark.read.parquet(cur)
        tmp = cur + "_compact_tmp"
        df.repartition(max_files).write.mode("overwrite").parquet(tmp)
        swap_dir(tmp, cur)
        stats["tables_compacted"] += 1
        stats["files_after"] += len(glob.glob(os.path.join(cur, "*.parquet")))
    return stats


def _late_audit_stage(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events fixture as a 3-file out-of-order arrival
    sequence (ascending mtimes pin file-source order):

      00_bulk   — everything except the buffer/late slices; contains
                  the global max event time, so processing it advances
                  the watermark to (max_ts − 1 day)
      01_buffer — the ``user_id % 50 == 1`` slice; one batch of
                  in-watermark traffic (the engine applies the
                  watermark computed from batches ≤ N−2, so THESE
                  rows are admitted even where old — pinned here)
      02_late   — the ``user_id % 50 == 0 AND day < max_day − 1``
                  slice: every row is beyond the now-advanced
                  watermark and must be dropped

    Rebuilt per (sf) under a fixed dir; reuse-if-exists is safe
    because the split is a pure function of the fixture.
    """
    base = _sf_temp_dir(sf_dir, "late_audit")
    stage = os.path.join(base, "stage")
    if os.path.exists(os.path.join(stage, "_DONE")):
        return stage
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(stage)
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "ts")
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    md = ev.agg(F.max(F.to_date("ts"))).collect()[0][0]
    late = (F.col("user_id") % 50 == 0) & (
        F.to_date("ts") < F.lit(md.isoformat()).cast("date") - 1
    )
    buffer = (~late) & (F.col("user_id") % 50 == 1)
    parts = [
        ("00_bulk", ev.filter(~late & ~buffer)),
        ("01_buffer", ev.filter(buffer)),
        ("02_late", ev.filter(late)),
    ]
    for i, (name, df) in enumerate(parts):
        tmp = os.path.join(base, name)
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(os.path.join(tmp, "*.parquet"))[0]
        dst = os.path.join(stage, f"{name}.parquet")
        shutil.copy(src, dst)
        os.utime(dst, (1_000_000 + i * 1000,) * 2)
    open(os.path.join(stage, "_DONE"), "w").close()
    return stage


def streaming_late_data_audit(
    spark: SparkSession, sf_dir: str, with_metrics: bool = False
):
    """Watermark late-data semantics, end to end and auditable: an
    out-of-order arrival sequence (bulk → buffer → late) through a
    1-day watermark and day-window counts in APPEND mode. The result
    is exactly what a downstream consumer of the stream sees:

    - FINALIZED windows only — window end < final watermark
      (global max_ts − 1 day), i.e. days ≤ max_day − 2; the trailing
      two windows are withheld as still-open state;
    - late arrivals fully EXCLUDED — the 02_late file lands two
      batches after the watermark advanced past it, so none of its
      rows contribute (Spark applies to batch N the watermark from
      batches ≤ N−2 — why the audit needs the buffer batch, and why
      a one-batch-behind straggler is still admitted: that slice
      (01_buffer) is in the counts);
    - ``numRowsDroppedByWatermark`` > 0 in the final batch's state
      metrics (counted post-partial-aggregation, so it tallies
      dropped GROUPS, not input rows — asserted sign-only in pytest
      via ``with_metrics``).

    The oracle states the same contract declaratively: rows with
    day ≤ max_day − 2 excluding the late slice. A hash match proves
    the watermark pipeline admits/finalizes EXACTLY the contracted
    set — the audit a compliance-grade streaming deployment runs
    before trusting its completeness SLO. (Fixture contract: max ts
    is not exactly midnight, true at every sf.)
    """
    stream = _file_stream(spark, _late_audit_stage(spark, sf_dir))
    agg = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("win.start"), "yyyy-MM-dd").alias("win_day"),
            "event_type",
            "n_events",
        )
    )
    name = "stream_late_audit"
    if name in [t.name for t in spark.catalog.listTables()]:
        spark.catalog.dropTempView(name)
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    result = spark.table(name)
    if with_metrics:
        dropped = 0
        for p in q.recentProgress:
            for so in p["stateOperators"]:
                dropped += so.get("numRowsDroppedByWatermark", 0) or 0
        return result, dropped
    return result


STREAM_LATE_AUDIT_SQL = """
WITH mx AS (SELECT max(CAST(ts AS DATE)) AS md FROM events)
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS win_day,
       event_type, count(*) AS n_events
FROM events, mx
WHERE CAST(ts AS DATE) <= md - 2
  AND NOT (user_id % 50 = 0 AND CAST(ts AS DATE) < md - 1)
GROUP BY 1, 2
"""
