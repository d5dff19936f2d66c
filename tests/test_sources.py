"""Custom paged_poll source (O-1/O-6): batch pagination + sinks."""

from __future__ import annotations

import json
import math
import os

from kinesis_dstream_spark.sources import polling
from kinesis_dstream_spark.sources.sinks import JsonLogSink
from kinesis_dstream_spark.tables import load_table


def test_batch_source_reads_all_pages(spark, sf_dir):
    polling.register(spark)
    df = (
        spark.read.format(polling.FORMAT_NAME)
        .option("path", f"{sf_dir}/events.parquet")
        .option("page_size", 137)
        .load()
    )
    direct = load_table(spark, sf_dir, "events")
    assert df.count() == direct.count()
    assert {r.event_id for r in df.select("event_id").collect()} == {
        r.event_id for r in direct.select("event_id").collect()
    }


def test_batch_source_page_partitioning(spark, sf_dir):
    """One input partition per page — the parallel upgrade of the
    reference's serial cursor loop (app/hs_contacts.py:95-126)."""
    polling.register(spark)
    df = (
        spark.read.format(polling.FORMAT_NAME)
        .option("path", f"{sf_dir}/events.parquet")
        .option("page_size", 100)
        .load()
    )
    n_rows = load_table(spark, sf_dir, "events").count()
    assert df.rdd.getNumPartitions() == math.ceil(n_rows / 100)


def test_batch_source_projection_and_filter(spark, sf_dir):
    polling.register(spark)
    df = (
        spark.read.format(polling.FORMAT_NAME)
        .option("path", f"{sf_dir}/events.parquet")
        .load()
        .select("event_id", "event_type")
        .filter("event_type = 'click'")
    )
    direct = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type")
        .filter("event_type = 'click'")
    )
    assert df.count() == direct.count()


def test_json_log_sink_writes_batches(spark, sf_dir, tmp_path):
    """The reference's implemented sink is a log file
    (app/hs_contacts.py:120-123); JsonLogSink is its foreachBatch twin —
    executor partitions stream their own files, nothing is collected to
    the driver, and empty partitions leave no files behind."""
    import glob

    out = str(tmp_path / "log_sink")
    sink = JsonLogSink(out)
    df = load_table(spark, sf_dir, "events").limit(5)
    sink(df, batch_id=7)
    paths = glob.glob(os.path.join(out, "batch-000007-part-*.jsonl"))
    assert paths
    lines = [json.loads(line) for p in paths for line in open(p)]
    assert len(lines) == 5 and "event_id" in lines[0]
    # a retried/replayed task overwrites its predecessor's file (names are
    # (batch_id, partitionId)-deterministic), never duplicates rows
    sink(df, batch_id=7)
    paths2 = glob.glob(os.path.join(out, "batch-000007-part-*.jsonl"))
    assert sorted(paths2) == sorted(paths)
    lines2 = [json.loads(line) for p in paths2 for line in open(p)]
    assert len(lines2) == 5
    assert not glob.glob(os.path.join(out, "*.tmp"))
    # empty micro-batch: elided entirely (reference O-8)
    sink(df.limit(0), batch_id=8)
    assert glob.glob(os.path.join(out, "batch-000008-*")) == []


def test_kinesis_sink_import_gate():
    """Without boto3 the Kinesis sink must fail at construction with a
    clear message, not inside executors."""
    import importlib.util

    import pytest

    from kinesis_dstream_spark.sources.sinks import KinesisPutRecordsSink

    if importlib.util.find_spec("boto3") is None:
        with pytest.raises(ImportError, match="boto3"):
            KinesisPutRecordsSink("stream", "event_id")
    else:  # boto3 present: construction succeeds
        KinesisPutRecordsSink("stream", "event_id")


def test_datasource_writer_roundtrip(spark, sf_dir, tmp_path):
    """Write through the custom DataSource writer (one JSONL file per
    task, collision-free names), read back, compare."""
    import glob
    import json

    from kinesis_dstream_spark.sources import polling
    from kinesis_dstream_spark.tables import load_table

    polling.register(spark)
    out = str(tmp_path / "sink")
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    ev.write.format(polling.FORMAT_NAME).option("path", out).mode("append").save()
    written = sorted(
        (json.loads(line)["event_id"], json.loads(line)["event_type"])
        for p in glob.glob(out + "/*.jsonl")
        for line in open(p)
    )
    expected = sorted((r.event_id, r.event_type) for r in ev.collect())
    assert written == expected


def test_fetch_retry_recovers_and_bounds(monkeypatch):
    """O-10 semantics: transient IO errors retry with backoff and then
    succeed; persistent errors surface after bounded attempts (never the
    reference's infinite same-page loop)."""
    import pytest

    from kinesis_dstream_spark.sources import polling

    monkeypatch.setattr(polling, "FETCH_BACKOFF_S", 0.001)
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 3:
            raise OSError("transient")
        return "page"

    assert polling._fetch_with_retry(flaky) == "page"
    assert calls["n"] == 3

    def dead():
        raise OSError("still down")

    with pytest.raises(OSError, match="still down"):
        polling._fetch_with_retry(dead)

    calls["n"] = 0

    def fatal_counting():
        calls["n"] += 1
        raise ValueError("bad payload")

    with pytest.raises(ValueError):
        polling._fetch_with_retry(fatal_counting)
    assert calls["n"] == 1  # non-transient: no retry


def test_csv_json_roundtrip_lossless(spark, sf_dir):
    """E-1 format scans: CSV and JSON round-trips must preserve row count,
    keys, totals, and timestamp values exactly."""
    from pyspark.sql import functions as F

    from kinesis_dstream_spark.sources import formats
    from kinesis_dstream_spark.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    out = formats.csv_json_roundtrip_stats(spark, sf_dir)
    expect = (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")) / 100.0, 2
            ).alias("total_price"),
            F.min(F.year("o_orderdate")).alias("first_year"),
            F.max(F.year("o_orderdate")).alias("last_year"),
        )
    )
    got = {tuple(r) for r in out.collect()}
    want = {tuple(r) for r in expect.collect()}
    assert got == want


def test_error_classification_branches(monkeypatch):
    """The reference's three error branches (app/hs_contacts.py:106-137),
    scripted deterministically: RATE_LIMIT and 5xx retry the same page;
    4xx is fatal on the first attempt."""
    import pytest

    monkeypatch.setattr(polling, "FETCH_BACKOFF_S", 0.001)

    class _Counting:
        def __init__(self):
            self.fetches = 0

        def total_rows(self):
            return 10

        def fetch_page(self, start, n):
            self.fetches += 1
            return ("page", start, n)

    # RATE_LIMIT -> retry same page, then succeed
    inner = _Counting()
    t = polling.FlakyTransport(inner, "rate_limit,ok")
    assert polling._fetch_with_retry(lambda: t.fetch_page(0, 5)) == ("page", 0, 5)
    assert inner.fetches == 1 and t.calls == 2

    # 5xx -> backoff retry, then succeed
    t = polling.FlakyTransport(_Counting(), "http_5xx,http_5xx,ok")
    assert polling._fetch_with_retry(lambda: t.fetch_page(5, 5))[1] == 5
    assert t.calls == 3  # used every bounded attempt

    # persistent 5xx -> bounded attempts then raise (never infinite)
    t = polling.FlakyTransport(_Counting(), "http_5xx,http_5xx,http_5xx,http_5xx")
    with pytest.raises(polling.TransientHTTPError):
        polling._fetch_with_retry(lambda: t.fetch_page(0, 5))
    assert t.calls == polling.FETCH_MAX_ATTEMPTS

    # 4xx -> fatal immediately, exactly one attempt
    t = polling.FlakyTransport(_Counting(), "http_4xx,ok")
    with pytest.raises(polling.FatalPollError):
        polling._fetch_with_retry(lambda: t.fetch_page(0, 5))
    assert t.calls == 1


def test_batch_source_survives_scripted_rate_limits(spark, sf_dir):
    """End-to-end through Spark: every partition's first fetch gets
    RATE_LIMIT (each task replays its own script copy) and the retry
    loop still produces the complete, correct scan."""
    polling.register(spark)
    df = (
        spark.read.format(polling.FORMAT_NAME)
        .option("path", f"{sf_dir}/events.parquet")
        .option("page_size", 997)
        .option("error_script", "rate_limit,ok")
        .load()
    )
    assert df.count() == load_table(spark, sf_dir, "events").count()


def test_batch_source_fatal_error_fails_fast(spark, sf_dir):
    """A 4xx-class remote error must surface, not be retried away."""
    import pytest

    polling.register(spark)
    df = (
        spark.read.format(polling.FORMAT_NAME)
        .option("path", f"{sf_dir}/events.parquet")
        .option("error_script", "http_4xx")
        .load()
    )
    with pytest.raises(Exception, match="HTTP 400"):
        df.count()


def test_partitioned_stream_reader_contract(sf_dir):
    """The DataSourceStreamReader walk, without Spark: offsets advance by
    rows_per_batch against a freshly-polled total, ranges split into
    page-grained partitions, and read() yields executor-side arrow
    batches covering exactly the planned range."""
    schema = polling._arrow_schema_to_spark(f"{sf_dir}/events.parquet")
    r = polling.PagedPollPartitionStreamReader(
        schema,
        {"path": f"{sf_dir}/events.parquet", "rows_per_batch": "1000", "page_size": "300"},
    )
    total = polling.ParquetPageTransport(f"{sf_dir}/events.parquet").total_rows()
    assert r.initialOffset() == {"cursor": 0}
    first = r.latestOffset()
    assert first == {"cursor": min(1000, total)}
    parts = r.partitions({"cursor": 0}, first)
    assert [p.start for p in parts] == list(range(0, first["cursor"], 300))
    assert all(p.end - p.start <= 300 for p in parts)
    n = sum(b.num_rows for p in parts for b in r.read(p))
    assert n == first["cursor"]
    # the cursor keeps advancing on later polls until the source drains
    second = r.latestOffset()
    assert second["cursor"] == min(2000, total)
    # empty range (no new data) planner-clamps instead of failing
    empty = r.partitions(second, second)
    assert sum(b.num_rows for p in empty for b in r.read(p)) == 0


def test_partitioned_stream_reader_restart_no_regression(sf_dir):
    """Restart semantics: a FRESH reader instance (checkpoint present, so
    initialOffset is never called) must not return a cursor behind the
    committed one. Spark compares offsets only for equality, so a
    regressed cursor would be planned and delivered rows re-read."""
    import pytest

    opts = {
        "path": f"{sf_dir}/events.parquet",
        "rows_per_batch": "100",
        "page_size": "300",
    }
    schema = polling._arrow_schema_to_spark(f"{sf_dir}/events.parquet")
    total = polling.ParquetPageTransport(f"{sf_dir}/events.parquet").total_rows()
    assert total > 200  # fixture sanity: a committed cursor can exceed one batch

    # restart path A: last batch committed → first call is latestOffset();
    # must be the uncapped high-water mark (≥ any committed cursor)
    r = polling.PagedPollPartitionStreamReader(schema, dict(opts))
    assert r.latestOffset() == {"cursor": total}

    # restart path B: pending batch replayed first → partitions(lo, hi)
    # seeds pacing at hi, and the next poll paces forward from there
    r2 = polling.PagedPollPartitionStreamReader(schema, dict(opts))
    committed = 200
    r2.partitions({"cursor": 100}, {"cursor": committed})
    nxt = r2.latestOffset()
    assert nxt["cursor"] == min(committed + 100, total)

    # a regressed range is refused loudly, never silently re-read
    r3 = polling.PagedPollPartitionStreamReader(schema, dict(opts))
    with pytest.raises(ValueError, match="behind committed"):
        r3.partitions({"cursor": 500}, {"cursor": 400})


def test_stream_reader_dispatch(sf_dir):
    """The stream reader is the partition-planning reader."""
    schema = polling._arrow_schema_to_spark(f"{sf_dir}/events.parquet")
    ds = polling.PagedPollDataSource({"path": f"{sf_dir}/events.parquet"})
    assert isinstance(
        ds.streamReader(schema), polling.PagedPollPartitionStreamReader
    )


def test_multi_entity_poll_fanout(spark, sf_dir):
    """Reference runs one poller process per entity (hs_contacts.py:171,
    hs_engagements.py:163); here N paged_poll streams run concurrently in
    ONE session under the StreamingJobRegistry control plane."""
    import time

    from kinesis_dstream_spark.streaming.control import StreamingJobRegistry

    polling.register(spark)
    entities = ["events", "orders", "customer"]
    reg = StreamingJobRegistry(spark)

    def make_builder(table):
        def build():
            return (
                spark.readStream.format(polling.FORMAT_NAME)
                .option("path", f"{sf_dir}/{table}.parquet")
                .option("rows_per_batch", 100000)
                .load()
                .writeStream.format("memory")
                .queryName(f"fanout_{table}")
                .outputMode("append")
                .trigger(processingTime="0 seconds")
                .start()
            )

        return build

    try:
        for t in entities:
            reg.start(f"poll_{t}", make_builder(t))
        assert sorted(reg.active()) == [f"poll_{t}" for t in sorted(entities)]
        # all three drain their fixture completely and concurrently
        deadline = time.time() + 120
        want = {t: load_table(spark, sf_dir, t).count() for t in entities}
        while time.time() < deadline:
            got = {t: spark.table(f"fanout_{t}").count() for t in entities}
            if got == want:
                break
            time.sleep(0.5)
        assert got == want
        statuses = reg.check()
        assert len(statuses) == 3 and all(s["active"] for s in statuses)
    finally:
        for t in entities:
            try:
                reg.stop(f"poll_{t}")
            except Exception:
                pass
    assert reg.active() == []


def test_kinesis_partial_failure_reput(monkeypatch):
    """Kinesis partially fails under throttling (FailedRecordCount > 0 on
    an HTTP 200); only the ErrorCode entries are re-put, and an exhausted
    budget raises instead of ack'ing lost records."""
    import pytest

    from kinesis_dstream_spark.sources import sinks

    class FakeClient:
        def __init__(self, fail_twice_for):
            self.fail_twice_for = fail_twice_for
            self.calls = []

        def put_records(self, StreamName, Records):
            self.calls.append([r["PartitionKey"] for r in Records])
            results, failed = [], 0
            for r in Records:
                attempts_so_far = sum(
                    1 for c in self.calls for k in c if k == r["PartitionKey"]
                )
                if r["PartitionKey"] in self.fail_twice_for and attempts_so_far <= 2:
                    results.append({"ErrorCode": "ProvisionedThroughputExceededException"})
                    failed += 1
                else:
                    results.append({"SequenceNumber": "1"})
            return {"FailedRecordCount": failed, "Records": results}

    recs = [{"Data": b"{}", "PartitionKey": str(i)} for i in range(5)]
    client = FakeClient(fail_twice_for={"1", "3"})
    sinks._put_records_with_retry(client, "s", recs, max_attempts=5, backoff_s=0.001)
    # first call ships all 5, re-puts carry ONLY the failed subset
    assert client.calls[0] == ["0", "1", "2", "3", "4"]
    assert client.calls[1] == ["1", "3"] and client.calls[2] == ["1", "3"]

    class AlwaysThrottled:
        def put_records(self, StreamName, Records):
            return {
                "FailedRecordCount": len(Records),
                "Records": [{"ErrorCode": "Throttled"} for _ in Records],
            }

    with pytest.raises(RuntimeError, match="still failing"):
        sinks._put_records_with_retry(
            AlwaysThrottled(), "s", recs, max_attempts=3, backoff_s=0.001
        )


def test_firehose_partial_failure_reput():
    """Firehose's put_record_batch twin (README.md:2 names 'Kinesis Data
    Stream or Firehose'): FailedPutCount > 0 re-puts ONLY the ErrorCode
    entries (response key RequestResponses, unlike Kinesis' Records), and
    an exhausted budget raises."""
    import pytest

    from kinesis_dstream_spark.sources import sinks

    class FakeFirehose:
        def __init__(self, fail_once_idx):
            self.fail_once_idx = fail_once_idx
            self.calls = []

        def put_record_batch(self, DeliveryStreamName, Records):
            self.calls.append([r["Data"] for r in Records])
            results, failed = [], 0
            for r in Records:
                seen = sum(1 for c in self.calls for d in c if d == r["Data"])
                if r["Data"] in self.fail_once_idx and seen <= 1:
                    results.append({"ErrorCode": "ServiceUnavailableException"})
                    failed += 1
                else:
                    results.append({"RecordId": "x"})
            return {"FailedPutCount": failed, "RequestResponses": results}

    recs = [{"Data": f"row{i}\n".encode()} for i in range(4)]
    client = FakeFirehose(fail_once_idx={b"row2\n"})
    sinks._put_record_batch_with_retry(client, "d", recs, max_attempts=4, backoff_s=0.001)
    assert client.calls[0] == [b"row0\n", b"row1\n", b"row2\n", b"row3\n"]
    assert client.calls[1] == [b"row2\n"]

    class AlwaysFailing:
        def put_record_batch(self, DeliveryStreamName, Records):
            return {
                "FailedPutCount": len(Records),
                "RequestResponses": [{"ErrorCode": "Throttled"} for _ in Records],
            }

    with pytest.raises(RuntimeError, match="Firehose put_record_batch"):
        sinks._put_record_batch_with_retry(
            AlwaysFailing(), "d", recs, max_attempts=2, backoff_s=0.001
        )


def test_firehose_sink_import_gate():
    """Without boto3 the Firehose sink must fail at construction with a
    clear message, not inside executors."""
    import importlib.util

    import pytest

    from kinesis_dstream_spark.sources.sinks import FirehosePutRecordBatchSink

    if importlib.util.find_spec("boto3") is None:
        with pytest.raises(ImportError, match="boto3"):
            FirehosePutRecordBatchSink("delivery")
    else:
        FirehosePutRecordBatchSink("delivery")


def test_schema_evolution_merges_with_null_semantics(spark, sf_dir):
    """mergeSchema must surface the union schema with NULLs exactly on
    the generation that lacked the column, and conserve row counts."""
    from kinesis_dstream_spark.sources.formats import schema_evolution_stats
    from kinesis_dstream_spark.tables import load_table

    from pyspark.sql import functions as F

    rows = {r.gen: r for r in schema_evolution_stats(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    n_even = orders.where(F.col("o_orderkey") % 2 == 0).count()
    n_odd = orders.count() - n_even
    assert rows[1].n_rows == n_even and rows[1].null_price_rows == n_even
    assert rows[1].priced_total == 0.0
    assert rows[2].n_rows == n_odd and rows[2].null_price_rows == 0
    assert rows[2].priced_total > 0


def test_corrupt_record_quarantine_accounts_for_every_line(spark, sf_dir):
    """PERMISSIVE ingest: quarantined + good row counts must equal the
    staged line count, quarantined rows carry the raw line (no silent
    drop), and good-row totals are unaffected by the corruption."""
    from pyspark.sql import functions as F

    from kinesis_dstream_spark.sources.formats import (
        corrupt_record_quarantine_stats,
    )
    from kinesis_dstream_spark.tables import load_table

    rows = {r.bucket: r for r in corrupt_record_quarantine_stats(spark, sf_dir).collect()}
    orders = load_table(spark, sf_dir, "orders")
    n_corrupt = orders.where(F.col("o_orderkey") % 37 == 0).count()
    assert rows["__quarantined__"].n_rows == n_corrupt
    assert rows["__quarantined__"].total_price == 0.0
    good = sum(r.n_rows for b, r in rows.items() if b != "__quarantined__")
    assert good + n_corrupt == orders.count()


def test_swap_dir_promotes_and_sweeps_leftovers(tmp_path):
    """stores.swap_dir: promotes tmp to live, removes the old copy,
    and sweeps a stale *_old left by a crashed previous swap."""
    import os

    from kinesis_dstream_spark.stores import swap_dir

    cur = tmp_path / "store"
    cur.mkdir()
    (cur / "a.txt").write_text("old")
    stale = tmp_path / "store_old"
    stale.mkdir()
    (stale / "junk").write_text("crashed swap leftover")
    tmp = tmp_path / "store_tmp"
    tmp.mkdir()
    (tmp / "a.txt").write_text("new")
    swap_dir(str(tmp), str(cur))
    assert (cur / "a.txt").read_text() == "new"
    assert not os.path.exists(stale)
    assert not os.path.exists(tmp)
    assert not os.path.exists(str(cur) + "_old")
    # first-ever swap: no live dir yet
    cur2 = tmp_path / "fresh"
    tmp2 = tmp_path / "fresh_tmp"
    tmp2.mkdir()
    (tmp2 / "x").write_text("1")
    swap_dir(str(tmp2), str(cur2))
    assert (cur2 / "x").read_text() == "1"
