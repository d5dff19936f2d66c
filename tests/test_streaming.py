"""Streaming semantics (E-9 / O-1..O-11): stream == batch, exactly-once
drain, watermark behavior, control plane."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from kinesis_dstream_spark.streaming import jobs
from kinesis_dstream_spark.streaming.control import StreamingJobRegistry
from kinesis_dstream_spark.operators.reference_ops import microbatch_tumbling_counts
from kinesis_dstream_spark.tables import load_table


def test_streaming_tumbling_equals_batch(spark, sf_dir):
    stream = jobs.streaming_tumbling_counts(spark, sf_dir)
    batch = microbatch_tumbling_counts(load_table(spark, sf_dir, "events"))
    s = {
        (r.win_day, r.event_type, r.n_events, r.sum_value) for r in stream.collect()
    }
    b = {
        (r.win_day, r.event_type, r.n_events, r.sum_value) for r in batch.collect()
    }
    assert s == b


def test_streaming_dedup_equals_batch_distinct(spark, sf_dir):
    stream = jobs.streaming_distinct_users(spark, sf_dir)
    batch = load_table(spark, sf_dir, "events").select("user_id").distinct()
    assert {r.user_id for r in stream.collect()} == {r.user_id for r in batch.collect()}


def test_poll_stream_drains_exactly_once(spark, sf_dir):
    """The cursor-offset stream must deliver every event exactly once."""
    out = jobs.streaming_poll_source_scan(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    n_total = ev.count()
    assert out.count() == n_total
    assert out.select("event_id").distinct().count() == n_total


def test_stream_static_join_equals_batch(spark, sf_dir):
    stream = jobs.streaming_stream_static_join(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    batch = (
        ev.join(cust, ev["user_id"] == cust["c_custkey"])
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    assert {tuple(r) for r in stream.collect()} == {tuple(r) for r in batch.collect()}


def test_control_registry_lifecycle(spark, tmp_path):
    """O-13 on spark.streams: start -> status -> check -> graceful stop."""
    reg = StreamingJobRegistry(spark)

    def builder():
        return (
            spark.readStream.format("rate")
            .option("rowsPerSecond", 10)
            .load()
            .writeStream.format("memory")
            .queryName("ctl_rate")
            .outputMode("append")
            .start()
        )

    st = reg.start("rate_job", builder)
    assert st["active"] is True and st["name"] == "rate_job"
    # double start rejected (unlike the reference, which spawns dupes)
    import pytest

    with pytest.raises(ValueError):
        reg.start("rate_job", builder)
    assert "rate_job" in reg.active()
    time.sleep(1.5)
    status = reg.status("rate_job")
    assert status["id"] and status["run_id"]
    assert isinstance(reg.check(), list) and len(reg.check()) == 1
    stopped = reg.stop("rate_job")
    assert stopped["active"] is False
    assert reg.active() == []


def test_watermark_drops_very_late_rows(spark, tmp_path):
    """E-9 late-data policy: with a 10-minute watermark, a row arriving
    after the watermark has passed its window is dropped from the agg.

    Uses two micro-batches through a file source: batch 1 advances the
    watermark far past the late row's window; batch 2 delivers the late
    row; append-mode output never includes it."""
    import json
    import os

    d = tmp_path / "late_src"
    os.makedirs(d)
    chk = str(tmp_path / "chk")

    def write_batch(path, rows):
        with open(path, "w") as f:
            for ts, uid in rows:
                f.write(json.dumps({"ts": ts, "uid": uid}) + "\n")

    # batch 1: events up to 12:00 -> watermark ~ 11:50
    write_batch(
        d / "b1.json",
        [("2024-01-01 10:00:00", 1), ("2024-01-01 12:00:00", 2)],
    )
    stream = (
        spark.readStream.schema("ts string, uid long")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").cast("string").alias("win_start"), "n")
    )
    out = str(tmp_path / "out")

    def run_once():
        q = (
            stream.writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # batch 2: a very late row for the already-closed 10:00 window
    write_batch(d / "b2.json", [("2024-01-01 10:05:00", 3)])
    run_once()
    finalized = {
        (r.win_start, r.n)
        for r in spark.read.schema("win_start string, n long").json(out).collect()
    }
    # the 10:00 window was emitted with n=1 (only the on-time row);
    # the late row never re-opens it in append mode
    assert ("2024-01-01 10:00:00", 1) in finalized
    assert ("2024-01-01 10:00:00", 2) not in finalized


def test_sliding_windows_double_count(spark, sf_dir):
    """Every event lands in exactly size/slide = 2 sliding windows."""
    from kinesis_dstream_spark.streaming import jobs
    from kinesis_dstream_spark.tables import load_table

    out = jobs.streaming_sliding_windows(spark, sf_dir)
    total_windowed = out.agg(F.sum("n_events")).collect()[0][0]
    assert total_windowed == 2 * load_table(spark, sf_dir, "events").count()


def test_stream_stream_join_equals_batch_self_join(spark, sf_dir):
    from kinesis_dstream_spark.streaming import jobs
    from kinesis_dstream_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("u"), F.col("ts").alias("a_ts"), F.col("event_id").alias("click_id")
    )
    b = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("bu"), F.col("ts").alias("b_ts"), F.col("event_id").alias("purchase_id")
    )
    batch = a.join(
        b,
        (F.col("u") == F.col("bu"))
        & (F.col("b_ts") >= F.col("a_ts"))
        & (F.col("b_ts") <= F.col("a_ts") + F.expr("interval 1 hour")),
    ).select("click_id", "purchase_id")
    streamed = jobs.streaming_stream_stream_join(spark, sf_dir)
    assert {(r.click_id, r.purchase_id) for r in streamed.collect()} == {
        (r.click_id, r.purchase_id) for r in batch.collect()
    }


def test_dedup_within_watermark_bounds(spark, sf_dir):
    """dropDuplicatesWithinWatermark: at least one row per distinct key,
    at most one per key per watermark-eviction epoch — i.e. bounded
    between exact-dedup and the raw stream."""
    from kinesis_dstream_spark.streaming.jobs import _events_stream, _run_bounded
    from kinesis_dstream_spark.tables import load_table

    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 day")
    out = _run_bounded(
        ev.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
            "user_id", "event_type"
        ),
        "stream_dedup_wwm",
        "append",
    )
    distinct_keys = (
        load_table(spark, sf_dir, "events").select("user_id", "event_type").distinct().count()
    )
    n = out.count()
    assert n >= distinct_keys
    assert out.select("user_id", "event_type").distinct().count() == distinct_keys


def test_changelog_merge_across_batches(spark, tmp_path):
    """Each micro-batch upserts; a key modified in a later batch must
    overwrite its earlier state (the reference's changelog semantics)."""
    import json

    from kinesis_dstream_spark.streaming.jobs import streaming_changelog_merge  # noqa: F401 (shape reference)

    d = tmp_path / "in"
    d.mkdir()

    def write_batch(path, rows):
        with open(path, "w") as f:
            for ts, uid, eid, et in rows:
                f.write(json.dumps({"ts": ts, "user_id": uid, "event_id": eid, "event_type": et, "value": 1.0}) + "\n")

    write_batch(d / "b1.json", [("2024-01-01 10:00:00", 1, 100, "old"), ("2024-01-01 10:00:00", 2, 101, "keep")])
    write_batch(d / "b2.json", [("2024-01-02 10:00:00", 1, 102, "new")])

    state_dir = str(tmp_path / "state")
    import os
    import shutil

    from pyspark.sql import Window

    cur_path = os.path.join(state_dir, "current")
    os.makedirs(state_dir, exist_ok=True)

    def merge(batch_df, batch_id):
        merged = batch_df
        if os.path.exists(cur_path):
            merged = spark.read.parquet(cur_path).unionByName(batch_df)
        w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
        latest = merged.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1).drop("rn")
        tmp = os.path.join(state_dir, f"tmp_{batch_id}")
        latest.write.mode("overwrite").parquet(tmp)
        if os.path.exists(cur_path):
            shutil.rmtree(cur_path)
        os.rename(tmp, cur_path)

    stream = (
        spark.readStream.schema("ts string, user_id long, event_id long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(d))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = {r.user_id: r.event_type for r in spark.read.parquet(cur_path).collect()}
    assert state == {1: "new", 2: "keep"}


def test_tws_user_totals_or_documented_gap(spark, sf_dir):
    """transformWithStateInPandas (Spark 4 stateful API) — runs when the
    protobuf dependency exists; otherwise the operator must fail with the
    documented NotImplementedError, never an opaque streaming crash."""
    import pytest

    from kinesis_dstream_spark.streaming.jobs import streaming_user_totals_tws
    from kinesis_dstream_spark.tables import load_table

    try:
        out = streaming_user_totals_tws(spark, sf_dir)
    except NotImplementedError:
        pytest.skip("protobuf not available for transformWithStateInPandas")
    got = {(r.user_id, r.n_events) for r in out.collect()}
    want = {
        (r.user_id, r.n)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == want


def test_streaming_ann_index_ingest_matches_batch_build(spark, sf_dir, tmp_path):
    """A fully-drained streaming ingest must equal a batch index build
    bit-for-bit: same bounded codebook fit, same frozen codebooks, so
    every cell assignment, PQ code, and search result coincides."""
    from kinesis_dstream_spark.operators import ann_index
    from kinesis_dstream_spark.streaming.jobs import streaming_ann_index_ingest
    from kinesis_dstream_spark.tables import load_table

    out = streaming_ann_index_ingest(
        spark,
        sf_dir,
        index_path=str(tmp_path / "idx"),
        checkpoint_dir=str(tmp_path / "chk"),
    )
    streamed = sorted(map(tuple, out.collect()))

    emb = load_table(spark, sf_dir, "embeddings")
    batch_path = str(tmp_path / "batch_idx")
    ann_index.ann_index_build(emb, batch_path)
    batch = sorted(
        map(tuple, ann_index.ann_index_search(spark, batch_path, n_queries=5, k=5).collect())
    )
    assert streamed == batch
    n = emb.count()
    assert spark.read.parquet(str(tmp_path / "idx")).count() == n


def test_streaming_ann_index_ingest_replay_safe(spark, sf_dir, tmp_path):
    """Appends are not idempotent on their own; the per-batch id
    anti-join must make them so. Re-running the drained job with the
    same checkpoint (no new data) AND with a fresh checkpoint (full
    re-delivery of every file) must both leave the index unchanged."""
    from kinesis_dstream_spark.streaming.jobs import streaming_ann_index_ingest
    from kinesis_dstream_spark.tables import load_table

    idx = str(tmp_path / "idx")
    streaming_ann_index_ingest(spark, sf_dir, index_path=idx, checkpoint_dir=str(tmp_path / "chk"))
    n = load_table(spark, sf_dir, "embeddings").count()
    assert spark.read.parquet(idx).count() == n
    # same checkpoint: no new offsets, no appends
    streaming_ann_index_ingest(spark, sf_dir, index_path=idx, checkpoint_dir=str(tmp_path / "chk"))
    assert spark.read.parquet(idx).count() == n
    # fresh checkpoint: every batch re-delivered; anti-join absorbs all of it
    streaming_ann_index_ingest(spark, sf_dir, index_path=idx, checkpoint_dir=str(tmp_path / "chk2"))
    assert spark.read.parquet(idx).count() == n


def test_end_to_end_poll_source_to_log_sink_exactly_once(spark, sf_dir, tmp_path):
    """The reference's FULL implemented pipeline as one Spark job:
    paged_poll streaming source (O-1/O-6/O-7) -> foreachBatch ->
    JSON-lines log sink (O-9, the reference's actual sink at
    app/hs_contacts.py:120-123). Every fixture event must land in the
    log exactly once after the bounded drain."""
    import glob
    import json
    import time

    from kinesis_dstream_spark.sources import polling, sinks

    polling.register(spark)
    ev = (
        spark.readStream.format(polling.FORMAT_NAME)
        .option("path", f"{sf_dir}/events.parquet")
        .option("rows_per_batch", 400)
        .option("page_size", 100)
        .load()
        .select("event_id", "user_id", "event_type")
    )
    out = str(tmp_path / "log")
    expected = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    q = (
        ev.writeStream.foreachBatch(sinks.JsonLogSink(out))
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(processingTime="0 seconds")
        .start()
    )

    def logged() -> list[int]:
        ids = []
        for p in glob.glob(out + "/*.jsonl"):
            with open(p) as f:
                ids.extend(json.loads(line)["event_id"] for line in f)
        return ids

    try:
        deadline = time.time() + 120
        while time.time() < deadline and len(logged()) < expected:
            time.sleep(0.25)
    finally:
        q.stop()
        q.awaitTermination(30)

    ids = logged()
    assert len(ids) == expected, f"{len(ids)} != {expected}"
    assert len(set(ids)) == expected  # exactly once, no duplicates
    batch_ids = {r.event_id for r in spark.read.parquet(f"{sf_dir}/events.parquet").collect()}
    assert set(ids) == batch_ids


def test_streaming_dedup_index_ingest_covers_corpus_and_replays_safely(
    spark, sf_dir, tmp_path
):
    """Drained ingest: every document is either indexed or flagged as a
    near-dup of an earlier batch; a full re-delivery (fresh checkpoint)
    flags everything and appends nothing."""
    from kinesis_dstream_spark.streaming.jobs import streaming_dedup_index_ingest
    from kinesis_dstream_spark.tables import load_table

    idx = str(tmp_path / "didx")
    flags = streaming_dedup_index_ingest(
        spark, sf_dir, index_path=idx, checkpoint_dir=str(tmp_path / "chk")
    )
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    indexed = {r.doc_id for r in spark.read.parquet(idx + "/shingles").collect()}
    flagged = {r.new_doc_id for r in flags.collect()}
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    # note: docs whose shingle set is empty never enter the index
    assert (indexed | flagged) >= {i for i in all_ids} - (all_ids - indexed - flagged)
    assert indexed.isdisjoint(flagged) or flagged  # flagged docs not appended
    assert len(indexed) + len(flagged - indexed) >= n_docs - 5  # near-total coverage
    n_indexed_first = len(indexed)

    # full replay with a fresh checkpoint: nothing new lands in the index
    streaming_dedup_index_ingest(
        spark, sf_dir, index_path=idx, checkpoint_dir=str(tmp_path / "chk2")
    )
    assert spark.read.parquet(idx + "/shingles").count() == n_indexed_first


def test_streaming_hll_rollup_equals_batch_and_replays_safely(spark, sf_dir, tmp_path):
    """The drained sketch state must give EXACTLY the batch rollup's
    estimates (lossless union at equal lgConfigK), and replaying data
    into existing state must change nothing — HLL insertion has set
    semantics, which is the whole argument for sketch-valued streaming
    state over counters."""
    from kinesis_dstream_spark.operators import sketches
    from kinesis_dstream_spark.streaming.jobs import streaming_hll_rollup

    state = str(tmp_path / "hll_state")
    streamed = {
        (r["event_type"], r["est_users"], r["n_days"])
        for r in streaming_hll_rollup(spark, sf_dir, state_dir=state).collect()
    }
    batch = {
        (r["event_type"], r["est_users"], r["n_days"])
        for r in sketches.hll_distinct_rollup(
            load_table(spark, sf_dir, "events")
        ).collect()
    }
    assert streamed == batch

    # replay the whole table into the existing state with a fresh
    # checkpoint: estimates must be bit-identical
    replayed = {
        (r["event_type"], r["est_users"], r["n_days"])
        for r in streaming_hll_rollup(spark, sf_dir, state_dir=str(tmp_path / "s2"))
        .collect()
    }
    assert replayed == streamed
    # TRUE replay: same sketch state, FRESH checkpoint -> every
    # micro-batch re-processed into already-populated sketches
    again = {
        (r["event_type"], r["est_users"], r["n_days"])
        for r in streaming_hll_rollup(
            spark, sf_dir, state_dir=state, checkpoint_dir=str(tmp_path / "chk_b")
        ).collect()
    }
    assert again == streamed


def test_streaming_chunk_store_replays_safely(spark, sf_dir, tmp_path):
    """Replaying every micro-batch into an existing chunk store (fresh
    checkpoint, same store) must add zero rows — the left-anti-join
    ingest is idempotent on (doc_id, chunk_no)."""
    from kinesis_dstream_spark.streaming.jobs import streaming_chunk_store_ingest

    store = str(tmp_path / "chunks")
    first = streaming_chunk_store_ingest(spark, sf_dir, store_dir=store)
    n_first = first.count()
    assert n_first > 0
    replayed = streaming_chunk_store_ingest(
        spark, sf_dir, store_dir=store, checkpoint_dir=str(tmp_path / "chk2")
    )
    assert replayed.count() == n_first
    # key uniqueness holds after replay
    assert replayed.select("doc_id", "chunk_no").distinct().count() == n_first


def test_chunk_store_compaction_preserves_content(spark, sf_dir, tmp_path):
    import glob

    from kinesis_dstream_spark.streaming.jobs import (
        chunk_store_compact,
        streaming_chunk_store_ingest,
    )

    store = str(tmp_path / "cstore")
    before = streaming_chunk_store_ingest(spark, sf_dir, store_dir=store)
    rows_before = sorted(map(tuple, before.collect()))
    n_files_before = len(glob.glob(store + "/chunks/*.parquet"))
    n_after = chunk_store_compact(spark, store, max_files=2)
    assert n_after <= max(2, n_files_before)
    after = spark.read.parquet(store + "/chunks")
    assert sorted(map(tuple, after.collect())) == rows_before
    # idempotent: second compact is a no-op
    assert chunk_store_compact(spark, store, max_files=2) == n_after


def test_streaming_hierarchical_rollup_replays_safely(spark, sf_dir, tmp_path):
    """Batch-id-keyed upsert: replaying all micro-batches into an
    existing granule store (fresh checkpoint, same state) must OVERWRITE
    each batch's partials, not accumulate them — and the drained rollup
    must equal the batch twin exactly (lossless int64 granule merge)."""
    from kinesis_dstream_spark.operators.eventflow import hierarchical_time_rollup
    from kinesis_dstream_spark.streaming.jobs import streaming_hierarchical_rollup
    from kinesis_dstream_spark.tables import load_table

    state = str(tmp_path / "cagg")
    first = streaming_hierarchical_rollup(spark, sf_dir, state_dir=state)
    rows_first = sorted(map(tuple, first.collect()))
    batch_rows = sorted(
        map(tuple, hierarchical_time_rollup(load_table(spark, sf_dir, "events")).collect())
    )
    assert rows_first == batch_rows
    replayed = streaming_hierarchical_rollup(
        spark, sf_dir, state_dir=state, checkpoint_dir=str(tmp_path / "chk2")
    )
    assert sorted(map(tuple, replayed.collect())) == batch_rows


def test_streaming_transition_replays_safely(spark, sf_dir, tmp_path):
    """Order-sensitive incremental view: drained == batch twin, and a
    full re-drain into live state (fresh checkpoint) changes nothing —
    the event_id guard + affected-user recompute make it idempotent."""
    from kinesis_dstream_spark.operators.eventflow import event_transition_matrix
    from kinesis_dstream_spark.streaming.jobs import streaming_transition_maintenance
    from kinesis_dstream_spark.tables import load_table

    store = str(tmp_path / "trans")
    first = streaming_transition_maintenance(spark, sf_dir, store_dir=store)
    rows_first = sorted(map(tuple, first.collect()))
    batch_rows = sorted(
        map(tuple, event_transition_matrix(load_table(spark, sf_dir, "events")).collect())
    )
    assert rows_first == batch_rows
    replayed = streaming_transition_maintenance(
        spark, sf_dir, store_dir=store, checkpoint_dir=str(tmp_path / "chk2")
    )
    assert sorted(map(tuple, replayed.collect())) == batch_rows


def test_streaming_rfm_replays_safely(spark, sf_dir, tmp_path):
    """Distributive RFM granules stream; quartiling at drain. Drained
    segments equal the batch twin; re-draining into live state with a
    fresh checkpoint changes nothing (batch-id-keyed upsert)."""
    from kinesis_dstream_spark.operators.eventflow import rfm_segments
    from kinesis_dstream_spark.streaming.jobs import streaming_rfm_maintenance
    from kinesis_dstream_spark.tables import load_table

    state = str(tmp_path / "rfm")
    first = streaming_rfm_maintenance(spark, sf_dir, state_dir=state)
    rows_first = sorted(map(tuple, first.collect()))
    batch_rows = sorted(
        map(tuple, rfm_segments(load_table(spark, sf_dir, "events")).collect())
    )
    assert rows_first == batch_rows
    replayed = streaming_rfm_maintenance(
        spark, sf_dir, state_dir=state, checkpoint_dir=str(tmp_path / "chk2")
    )
    assert sorted(map(tuple, replayed.collect())) == batch_rows


def test_streaming_cohort_replays_safely(spark, sf_dir, tmp_path):
    """Set-semantics granules: re-draining the whole source into a live
    store adds zero rows; drained retention equals the batch twin."""
    from kinesis_dstream_spark.operators.eventflow import cohort_retention
    from kinesis_dstream_spark.streaming.jobs import streaming_cohort_maintenance
    from kinesis_dstream_spark.tables import load_table

    store = str(tmp_path / "cohort")
    first = streaming_cohort_maintenance(spark, sf_dir, store_dir=store)
    rows_first = sorted(map(tuple, first.collect()))
    batch_rows = sorted(
        map(tuple, cohort_retention(load_table(spark, sf_dir, "events")).collect())
    )
    assert rows_first == batch_rows
    replayed = streaming_cohort_maintenance(
        spark, sf_dir, store_dir=store, checkpoint_dir=str(tmp_path / "chk2")
    )
    assert sorted(map(tuple, replayed.collect())) == batch_rows


def test_streaming_gapfill_replays_safely(spark, sf_dir, tmp_path):
    """Additive hourly granules (batch-id-keyed) + drain-time spine/
    interpolation: drained equals the batch twin; re-drain changes
    nothing."""
    from kinesis_dstream_spark.operators.eventflow import gap_fill_interpolate
    from kinesis_dstream_spark.streaming.jobs import streaming_gapfill_maintenance
    from kinesis_dstream_spark.tables import load_table

    state = str(tmp_path / "gapfill")
    first = streaming_gapfill_maintenance(spark, sf_dir, state_dir=state)
    rows_first = sorted(map(tuple, first.collect()))
    batch_rows = sorted(
        map(tuple, gap_fill_interpolate(load_table(spark, sf_dir, "events")).collect())
    )
    assert rows_first == batch_rows
    replayed = streaming_gapfill_maintenance(
        spark, sf_dir, state_dir=state, checkpoint_dir=str(tmp_path / "chk2")
    )
    assert sorted(map(tuple, replayed.collect())) == batch_rows


def test_streaming_near_dup_pairs_equals_batch_and_replays_safely(
    spark, sf_dir, tmp_path
):
    """The incremental pairs maintenance must drain to EXACTLY the
    batch builder's pair list (the later-doc decomposition is exact
    under the frozen vocabulary), and replaying every micro-batch into
    the existing store (fresh checkpoint) must change nothing — the
    novel-doc anti-join makes re-delivery a no-op."""
    from kinesis_dstream_spark.operators.dedup import dedup_ngram_jaccard
    from kinesis_dstream_spark.streaming.jobs import (
        streaming_near_dup_pairs_maintenance,
    )
    from kinesis_dstream_spark.tables import load_table

    store = str(tmp_path / "pairs_store")
    drained = streaming_near_dup_pairs_maintenance(spark, sf_dir, store_dir=store)
    got = sorted(map(tuple, drained.collect()))
    want = sorted(
        map(tuple, dedup_ngram_jaccard(load_table(spark, sf_dir, "documents")).collect())
    )
    assert got == want and len(got) > 0
    rows_n = spark.read.parquet(store + "/shingle_rows").count()
    replayed = streaming_near_dup_pairs_maintenance(
        spark, sf_dir, store_dir=store, checkpoint_dir=str(tmp_path / "chk2")
    )
    assert sorted(map(tuple, replayed.collect())) == want
    assert spark.read.parquet(store + "/shingle_rows").count() == rows_n


def test_streaming_erasure_matches_batch_and_replays_safely(spark, sf_dir, tmp_path):
    """Streamed request batches must leave the stores in EXACTLY the
    state the batch erasure produces (anti-join erasure commutes over
    batching), every store on disk must hold zero residual subject
    rows, and a full replay with a fresh checkpoint must change
    nothing (idempotence)."""
    import os

    from kinesis_dstream_spark.streaming.jobs import streaming_erasure_propagation

    work = str(tmp_path / "gov_stream")
    rows = {
        r.store: r
        for r in streaming_erasure_propagation(spark, sf_dir, work_dir=work).collect()
    }
    assert set(rows) == {"ann_index", "chunk_store", "minhash_dedup_index"}
    for r in rows.values():
        assert r.rows_before == r.rows_erased + r.rows_after
        assert r.rows_erased > 0
    checks = [
        ("vec_id", os.path.join(work, "ann_index")),
        ("doc_id", os.path.join(work, "chunk_store", "chunks")),
        ("doc_id", os.path.join(work, "minhash_dedup_index", "bands")),
        ("doc_id", os.path.join(work, "minhash_dedup_index", "shingles")),
    ]
    for key, p in checks:
        assert spark.read.parquet(p).where(F.col(key) % 37 == 0).count() == 0, p
    replayed = {
        r.store: r
        for r in streaming_erasure_propagation(
            spark, sf_dir, work_dir=work, checkpoint_dir=str(tmp_path / "chk2")
        ).collect()
    }
    for name, r in rows.items():
        assert replayed[name].rows_after == r.rows_after
        assert replayed[name].rows_erased == r.rows_erased


def test_pairs_store_compaction_preserves_content(spark, sf_dir, tmp_path):
    from kinesis_dstream_spark.streaming.jobs import (
        pairs_store_compact,
        streaming_near_dup_pairs_maintenance,
    )

    store = str(tmp_path / "pstore")
    drained = streaming_near_dup_pairs_maintenance(spark, sf_dir, store_dir=store)
    pairs_before = sorted(map(tuple, drained.collect()))
    rows_before = sorted(
        map(tuple, spark.read.parquet(store + "/shingle_rows").collect())
    )
    stats = pairs_store_compact(spark, store, max_files=2)
    assert stats["files_after"] <= max(4, stats["files_before"])
    assert sorted(map(tuple, spark.read.parquet(store + "/pairs").collect())) == pairs_before
    assert sorted(
        map(tuple, spark.read.parquet(store + "/shingle_rows").collect())
    ) == rows_before
    # idempotent: a second compact is a no-op on file counts
    again = pairs_store_compact(spark, store, max_files=2)
    assert again["files_after"] == stats["files_after"]


def test_late_data_audit_drops_and_metrics(spark, sf_dir):
    """The late slice must be invisible in the finalized counts, the
    buffer (one-batch-behind) slice must be admitted, and the state
    metrics must record watermark drops in the final batch."""
    import shutil

    from pyspark.sql import functions as F

    from kinesis_dstream_spark.streaming import jobs
    from kinesis_dstream_spark.tables import load_table

    shutil.rmtree(jobs._sf_temp_dir(sf_dir, "late_audit"), ignore_errors=True)
    result, dropped = jobs.streaming_late_data_audit(spark, sf_dir, with_metrics=True)
    assert dropped > 0  # group-granular, so sign-only
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date(F.col("ts").cast("timestamp"))
    )
    md = ev.agg(F.max("day")).collect()[0][0]
    emitted_total = result.agg(F.sum("n_events")).collect()[0][0]
    late_n = ev.filter(
        (F.col("user_id") % 50 == 0)
        & (F.col("day") < F.lit(md.isoformat()).cast("date") - 1)
    ).count()
    finalized_all = ev.filter(
        F.col("day") <= F.lit(md.isoformat()).cast("date") - 2
    ).count()
    assert emitted_total == finalized_all - late_n  # late excluded, buffer in


def test_streaming_percentiles_equal_batch_and_replay_safely(spark, sf_dir, tmp_path):
    """The additive value-frequency granules must drain to EXACTLY the
    batch grouped_percentiles output, and a full re-drain with a fresh
    checkpoint over the same store (the sanctioned replay mode: every
    epoch overwritten) must change nothing."""
    from kinesis_dstream_spark.operators import dataquality
    from kinesis_dstream_spark.streaming.jobs import (
        streaming_percentile_maintenance,
    )
    from kinesis_dstream_spark.tables import load_table

    state = str(tmp_path / "pctl")
    drained = streaming_percentile_maintenance(spark, sf_dir, state_dir=state)
    got = sorted(map(tuple, drained.collect()))
    want = sorted(
        map(
            tuple,
            dataquality.grouped_percentiles(
                load_table(spark, sf_dir, "events")
            ).collect(),
        )
    )
    assert got == want and len(got) > 0
    replayed = streaming_percentile_maintenance(
        spark, sf_dir, state_dir=state, checkpoint_dir=str(tmp_path / "chk2")
    )
    assert sorted(map(tuple, replayed.collect())) == want


def test_percentile_store_wipe_also_wipes_external_checkpoint(
    spark, sf_dir, tmp_path
):
    """r7 ADVICE: with the auto-managed store (state_dir=None) and a
    caller-provided checkpoint_dir, a fingerprint-triggered store wipe
    must also wipe that external checkpoint — otherwise the next drain
    sees every file as already processed and serves empty granules."""
    import json
    import os
    import tempfile

    from kinesis_dstream_spark.operators import dataquality
    from kinesis_dstream_spark.streaming.jobs import (
        streaming_percentile_maintenance,
    )
    from kinesis_dstream_spark.tables import load_table

    tag = sf_dir.strip("/").replace("/", "_")
    auto_state = f"{tempfile.gettempdir()}/kds_pctl_state_u{os.getuid()}_{tag}"
    cp = str(tmp_path / "ext_chk")

    want = sorted(
        map(
            tuple,
            dataquality.grouped_percentiles(
                load_table(spark, sf_dir, "events")
            ).collect(),
        )
    )

    first = streaming_percentile_maintenance(
        spark, sf_dir, state_dir=None, checkpoint_dir=cp
    )
    assert sorted(map(tuple, first.collect())) == want
    assert os.path.exists(cp)

    # corrupt the fingerprint to force the wipe path on the next call
    meta = os.path.join(auto_state, "_meta.json")
    with open(meta, "w") as f:
        json.dump({"fingerprint": "bogus"}, f)

    again = streaming_percentile_maintenance(
        spark, sf_dir, state_dir=None, checkpoint_dir=cp
    )
    assert sorted(map(tuple, again.collect())) == want


def test_torn_percentile_meta_reads_as_stale(spark, sf_dir):
    """A truncated ``_meta.json`` (a crash mid-write by a writer that
    predates the atomic sidecar protocol) must read as "no complete
    build": the from-store reader falls back to the scan path and the
    maintenance job rebuilds, both equal to the batch operator — never a
    JSONDecodeError out of a registry query."""
    import os

    from kinesis_dstream_spark.operators import dataquality
    from kinesis_dstream_spark.streaming import jobs
    from kinesis_dstream_spark.tables import load_table

    want = sorted(
        map(
            tuple,
            dataquality.grouped_percentiles(
                load_table(spark, sf_dir, "events")
            ).collect(),
        )
    )
    jobs.streaming_percentile_maintenance(spark, sf_dir).collect()
    meta = os.path.join(jobs._percentile_store_dir(sf_dir), "_meta.json")
    with open(meta) as f:
        good = f.read()
    with open(meta, "w") as f:
        f.write(good[: len(good) // 2])

    served = jobs.grouped_percentiles_from_store(spark, sf_dir)
    assert sorted(map(tuple, served.collect())) == want

    rebuilt = jobs.streaming_percentile_maintenance(spark, sf_dir)
    assert sorted(map(tuple, rebuilt.collect())) == want
    with open(meta) as f:
        assert f.read() == good


def test_grouped_percentiles_from_store_serves_granules(spark, sf_dir):
    """r7 verdict task 3: with a fresh fingerprinted store the batch
    fast path must serve the maintained value-frequency granules (its
    scan reads ONLY store files — no events re-scan) and equal the
    scan-path grouped_percentiles exactly; with the store absent it
    falls back to the scan path, still exact."""
    import shutil
    import tempfile

    from kinesis_dstream_spark.operators import dataquality
    from kinesis_dstream_spark.streaming import jobs
    from kinesis_dstream_spark.tables import load_table

    want = sorted(
        map(
            tuple,
            dataquality.grouped_percentiles(
                load_table(spark, sf_dir, "events")
            ).collect(),
        )
    )

    auto_state = jobs._percentile_store_dir(sf_dir)
    shutil.rmtree(auto_state, ignore_errors=True)

    # absent store -> scan fallback, exact
    fallback = jobs.grouped_percentiles_from_store(spark, sf_dir)
    assert sorted(map(tuple, fallback.collect())) == want
    assert any("events.parquet" in f for f in fallback.inputFiles())

    # build the store, then the fast path must read only store files
    jobs.streaming_percentile_maintenance(spark, sf_dir).collect()
    served = jobs.grouped_percentiles_from_store(spark, sf_dir)
    assert sorted(map(tuple, served.collect())) == want
    files = served.inputFiles()
    assert files and all(auto_state in f for f in files), files


def test_value_ks_from_store_serves_granules(spark, sf_dir):
    """Second consumer of the percentile granule store: KS drift from
    the maintained value-frequency table must equal the scan path
    exactly, and when the store is fresh its scan must read only store
    files (the continuous-aggregate claim)."""
    import shutil

    from kinesis_dstream_spark.operators import dataquality
    from kinesis_dstream_spark.streaming import jobs
    from kinesis_dstream_spark.tables import load_table

    want = sorted(
        map(
            tuple,
            dataquality.value_ks_drift(
                load_table(spark, sf_dir, "events")
            ).collect(),
        )
    )

    auto_state = jobs._percentile_store_dir(sf_dir)
    shutil.rmtree(auto_state, ignore_errors=True)

    fallback = jobs.value_ks_from_store(spark, sf_dir)
    assert sorted(map(tuple, fallback.collect())) == want
    assert any("events.parquet" in f for f in fallback.inputFiles())

    jobs.streaming_percentile_maintenance(spark, sf_dir).collect()
    served = jobs.value_ks_from_store(spark, sf_dir)
    assert sorted(map(tuple, served.collect())) == want
    files = served.inputFiles()
    assert files and all(auto_state in f for f in files), files


def test_daily_count_store_serves_both_consumers_exactly(spark, sf_dir):
    """The maintained daily-count granules must serve BOTH the seasonal
    decomposition and the autocorrelation identically to their scan
    paths, and a second drain (zero new files) must be idempotent."""
    from kinesis_dstream_spark.operators import eventflow
    from kinesis_dstream_spark.streaming.jobs import (
        daily_autocorr_from_store,
        seasonal_decomposition_from_store,
        streaming_daily_count_maintenance,
    )
    from kinesis_dstream_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    want_seas = sorted(
        map(tuple, eventflow.daily_seasonal_decomposition(ev).collect())
    )
    want_acf = sorted(map(tuple, eventflow.daily_count_autocorr(ev).collect()))

    first = streaming_daily_count_maintenance(spark, sf_dir)
    assert sorted(map(tuple, first.collect())) == want_seas
    # replay/idempotence: drain again against the same checkpoint
    again = streaming_daily_count_maintenance(spark, sf_dir)
    assert sorted(map(tuple, again.collect())) == want_seas

    assert (
        sorted(map(tuple, seasonal_decomposition_from_store(spark, sf_dir).collect()))
        == want_seas
    )
    assert (
        sorted(map(tuple, daily_autocorr_from_store(spark, sf_dir).collect()))
        == want_acf
    )

    # r9: the value-moment widening serves the trend regression and
    # the residual anomaly bands from the SAME granules, identically
    # to their scan paths
    from kinesis_dstream_spark.streaming.jobs import (
        _daily_moments_if_fresh,
        seasonal_anomaly_from_store,
        value_trend_from_store,
    )

    assert _daily_moments_if_fresh(spark, sf_dir) is not None, "store fresh"
    want_trend = sorted(map(tuple, eventflow.value_trend_regression(ev).collect()))
    want_bands = sorted(map(tuple, eventflow.seasonal_anomaly_bands(ev).collect()))
    assert (
        sorted(map(tuple, value_trend_from_store(spark, sf_dir).collect()))
        == want_trend
    )
    assert (
        sorted(map(tuple, seasonal_anomaly_from_store(spark, sf_dir).collect()))
        == want_bands
    )

    # r11: consumers five and six — CUSUM + Mann-Kendall from the same
    # granules, identical to their scan paths
    from kinesis_dstream_spark.streaming.jobs import (
        cusum_from_store,
        mann_kendall_from_store,
    )

    want_cusum = sorted(map(tuple, eventflow.cusum_shift_detection(ev).collect()))
    want_mk = sorted(map(tuple, eventflow.mann_kendall_trend(ev).collect()))
    assert (
        sorted(map(tuple, cusum_from_store(spark, sf_dir).collect()))
        == want_cusum
    )
    assert (
        sorted(map(tuple, mann_kendall_from_store(spark, sf_dir).collect()))
        == want_mk
    )


def test_daily_count_store_stale_falls_back_to_scan(spark, sf_dir):
    """A corrupted fingerprint must route the from-store consumers to
    the scan path (identical values) rather than serving stale
    granules."""
    import json
    import os

    from kinesis_dstream_spark.operators import eventflow
    from kinesis_dstream_spark.streaming.jobs import (
        _dailyc_store_dir,
        seasonal_decomposition_from_store,
        streaming_daily_count_maintenance,
    )
    from kinesis_dstream_spark.tables import load_table

    streaming_daily_count_maintenance(spark, sf_dir)
    meta = os.path.join(_dailyc_store_dir(sf_dir), "_meta.json")
    with open(meta) as f:
        good = json.load(f)
    with open(meta, "w") as f:
        json.dump({"fingerprint": "bogus"}, f)
    try:
        want = sorted(
            map(
                tuple,
                eventflow.daily_seasonal_decomposition(
                    load_table(spark, sf_dir, "events")
                ).collect(),
            )
        )
        got = sorted(
            map(tuple, seasonal_decomposition_from_store(spark, sf_dir).collect())
        )
        assert got == want
    finally:
        with open(meta, "w") as f:
            json.dump(good, f)


def test_daily_count_store_rebuilds_when_source_is_restaged(spark, sf_dir):
    """The auto store's checkpoint indexes the staged part files by
    path; a re-staged source (temp-dir cleanup → new part-file names)
    must rebuild the store rather than re-deliver every file as new
    epochs and count each event twice."""
    import shutil

    from kinesis_dstream_spark.operators import eventflow
    from kinesis_dstream_spark.streaming import jobs
    from kinesis_dstream_spark.tables import load_table

    want = sorted(
        map(
            tuple,
            eventflow.daily_seasonal_decomposition(
                load_table(spark, sf_dir, "events")
            ).collect(),
        )
    )
    jobs.streaming_daily_count_maintenance(spark, sf_dir).collect()
    shutil.rmtree(jobs._staged_dir(spark, sf_dir, "events"))
    again = jobs.streaming_daily_count_maintenance(spark, sf_dir)
    assert sorted(map(tuple, again.collect())) == want


def test_streaming_ivf_ingest_replay_safe_and_equals_batch(spark, sf_dir, tmp_path):
    """r9: draining the IVF-det ingest stream twice against the same
    store+checkpoint adds zero duplicate code rows, and the drained
    serve equals the BATCH ingest flow row-for-row (same frozen
    centroids, same appended assignment — the shared oracle's claim)."""
    import os

    from kinesis_dstream_spark.operators import clustering
    from kinesis_dstream_spark.streaming.jobs import streaming_ivf_det_ingest
    from kinesis_dstream_spark.tables import load_table

    store = str(tmp_path / "idx")
    chk = str(tmp_path / "chk")
    first = sorted(
        map(tuple, streaming_ivf_det_ingest(spark, sf_dir, store, chk).collect())
    )
    n_codes = spark.read.parquet(os.path.join(store, "codes")).count()
    emb = load_table(spark, sf_dir, "embeddings")
    assert n_codes == emb.count()

    again = sorted(
        map(tuple, streaming_ivf_det_ingest(spark, sf_dir, store, chk).collect())
    )
    assert spark.read.parquet(os.path.join(store, "codes")).count() == n_codes
    assert again == first

    # batch-equivalence: ensure-on-base + append-rest = the stream
    batch_store = str(tmp_path / "batch_idx")
    clustering.ivf_det_store_ensure(
        emb.filter(F.col("vec_id") % 5 != 4), batch_store
    )
    clustering.ivf_det_store_append(
        emb.filter(F.col("vec_id") % 5 == 4), batch_store
    )
    batch = sorted(
        map(tuple, clustering.ivf_det_serve_frozen(emb, batch_store).collect())
    )
    assert batch == first


def test_replay_antijoin_reads_only_batch_cells(spark, sf_dir, tmp_path):
    """r11 (r10 verdict task 2): the replay anti-join's store-side read
    must carry the batch's cells as a pushed PartitionFilter — the
    whole-store vec_id scan is the shape that dies at 100 TB. Pins the
    plan of the shared helper AND that append through it stays
    row-identical to the pre-pruning semantics (append the same split
    twice → zero duplicates)."""
    import os

    from kinesis_dstream_spark.operators import clustering
    from kinesis_dstream_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    store = str(tmp_path / "idx")
    clustering.ivf_det_store_ensure(
        emb.filter(F.col("vec_id") % 5 != 4), store
    )
    codes = os.path.join(store, "codes")

    pruned = clustering.replay_existing_vec_ids(spark, codes, [0, 2])
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the cluster_id IN-filter must appear among the partition filters,
    # not as a post-scan data filter
    pf = plan[plan.index("PartitionFilters"):]
    pf = pf[: pf.index("]") + 1]
    assert "cluster_id" in pf, plan

    # semantics unchanged: re-appending an already-coded split is a no-op
    tail = emb.filter(F.col("vec_id") % 5 == 4)
    clustering.ivf_det_store_append(tail, store)
    n = spark.read.parquet(codes).count()
    assert n == emb.count()
    # second delivery of the same rows under a DIFFERENT fingerprint
    # (subset) exercises the row-level anti-join, not the fast path
    clustering.ivf_det_store_append(tail.limit(7), store)
    assert spark.read.parquet(codes).count() == n


def test_streaming_ingest_rebuilds_on_torn_meta(spark, sf_dir, tmp_path):
    """r10 ADVICE: a torn/unparseable _meta.json means 'no complete
    build' (stores.read_meta → None). The streaming bootstrap must
    trigger the ensure path and complete, not skip the ensure and then
    crash in append with FileNotFoundError."""
    import os

    from kinesis_dstream_spark.operators import pq_det
    from kinesis_dstream_spark.streaming.jobs import streaming_ivf_pq_det_ingest
    from kinesis_dstream_spark.tables import load_table

    store = str(tmp_path / "idx")
    os.makedirs(store)
    with open(os.path.join(store, pq_det._PQ_META), "w") as f:
        f.write('{"coarse": [[0, [1, 2')  # torn JSON
    out = streaming_ivf_pq_det_ingest(
        spark, sf_dir, store, str(tmp_path / "chk")
    )
    assert out.count() > 0
    emb = load_table(spark, sf_dir, "embeddings")
    assert (
        spark.read.parquet(os.path.join(store, "codes")).count() == emb.count()
    )


def test_streaming_res_ingest_replay_safe_and_equals_batch(spark, sf_dir, tmp_path):
    """r11: draining the residual IVF-PQ ingest stream twice against
    the same store+checkpoint adds zero duplicate code rows, and the
    drained serve equals the BATCH ingest flow row-for-row (frozen
    coarse + frozen residual codebooks — the shared oracle's claim).
    Compaction afterwards leaves serve results bit-identical."""
    import os

    from kinesis_dstream_spark.operators import pq_det
    from kinesis_dstream_spark.streaming.jobs import streaming_ivf_pq_res_ingest
    from kinesis_dstream_spark.tables import load_table

    store = str(tmp_path / "idx")
    chk = str(tmp_path / "chk")
    first = sorted(
        map(tuple, streaming_ivf_pq_res_ingest(spark, sf_dir, store, chk).collect())
    )
    codes = os.path.join(store, "codes")
    n_codes = spark.read.parquet(codes).count()
    emb = load_table(spark, sf_dir, "embeddings")
    assert n_codes == emb.count()

    again = sorted(
        map(tuple, streaming_ivf_pq_res_ingest(spark, sf_dir, store, chk).collect())
    )
    assert spark.read.parquet(codes).count() == n_codes
    assert again == first

    # batch-equivalence: ensure-on-base + append-rest = the stream
    batch_store = str(tmp_path / "batch_idx")
    pq_det.ivf_pq_res_store_ensure(
        emb.filter(F.col("vec_id") % 5 != 4), batch_store
    )
    pq_det.ivf_pq_res_store_append(
        emb.filter(F.col("vec_id") % 5 == 4), batch_store
    )
    batch = sorted(
        map(tuple, pq_det.ivf_pq_res_serve_frozen(emb, batch_store).collect())
    )
    assert batch == first

    # compaction: fewer-or-equal files, identical serve
    rep = pq_det.ivf_pq_res_store_compact(spark, store, max_files_per_cell=1)
    assert rep["files_after"] <= rep["files_before"]
    assert sorted(
        map(tuple, pq_det.ivf_pq_res_serve_frozen(emb, store).collect())
    ) == first
