"""stream_dedup_watermark's global-dedup oracle is only exact while the
watermark delay exceeds the fixture's whole event-time span (duplicates can
then never age out of dedup state, whatever the micro-batching). Pin that
precondition here so a fixture regeneration that widens the span fails loudly
instead of silently breaking the streaming parity hash."""

from __future__ import annotations

import duckdb

from meos_rs_spark.queries.streaming import DEDUP_WATERMARK

SF_DIRS = [f"/root/testdata/sf{sf}" for sf in ("0.001", "0.01", "0.1")]


def test_watermark_covers_event_span():
    n, unit = DEDUP_WATERMARK.split()
    assert unit in ("day", "days")
    delay_days = int(n)
    for sf_dir in SF_DIRS:
        (span_days,) = duckdb.sql(
            f"SELECT date_diff('day', min(ts), max(ts)) FROM '{sf_dir}/events.parquet'"
        ).fetchone()
        assert span_days < delay_days, (sf_dir, span_days, delay_days)


def test_stream_state_partitions_policy(spark):
    """The scale-adaptive state-partition default: explicit conf wins;
    otherwise ~1 partition/MB of the events parquet, clamped to [4, 200]."""
    import os
    import tempfile

    from meos_rs_spark.queries.streaming import (
        STREAM_STATE_PARTITIONS_CONF,
        _state_partitions,
    )

    assert _state_partitions(spark, "/root/testdata/sf0.1") == "4"  # 2 MB -> floor
    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "events.parquet"), "wb") as f:
            f.truncate(20 << 20)  # 20 MB backlog -> 20 partitions
        assert _state_partitions(spark, d) == "20"
        with open(os.path.join(d, "events.parquet"), "wb") as f:
            f.truncate(1 << 30)  # 1 GB -> cap
        assert _state_partitions(spark, d) == "200"
    assert _state_partitions(spark, None) == "4"
    spark.conf.set(STREAM_STATE_PARTITIONS_CONF, "7")
    try:
        assert _state_partitions(spark, "/root/testdata/sf0.1") == "7"
    finally:
        spark.conf.unset(STREAM_STATE_PARTITIONS_CONF)


def test_stream_state_partitions_uri_matches_local(spark):
    """Storage-agnostic sizing (r16 VERDICT item 4): a URI-form fixture
    location must produce the SAME state-partition count as the plain
    local path — the old os.path-only probe read 0 bytes for any URI and
    silently floored at 4. file:// exercises the Hadoop FileSystem branch
    end-to-end (same code path an s3a:// or hdfs:// deployment takes);
    both the single-events-parquet and the dir-total fallback policies
    are covered."""
    import os
    import tempfile

    from meos_rs_spark.queries.streaming import _backlog_bytes, _state_partitions

    with tempfile.TemporaryDirectory() as d:
        with open(os.path.join(d, "events.parquet"), "wb") as f:
            f.truncate(20 << 20)  # 20 MB backlog -> 20 partitions
        assert _state_partitions(spark, d) == "20"
        assert _state_partitions(spark, "file://" + d) == "20"
        assert _backlog_bytes(spark, "file://" + d) == (20 << 20)
        # dir-total fallback (no events.parquet): both schemes agree too
        os.rename(os.path.join(d, "events.parquet"), os.path.join(d, "a.parquet"))
        with open(os.path.join(d, "b.parquet"), "wb") as f:
            f.truncate(5 << 20)
        assert _backlog_bytes(spark, d) == (25 << 20)
        assert _backlog_bytes(spark, "file://" + d) == (25 << 20)
        assert _state_partitions(spark, "file://" + d) == "25"
    # an unreadable URI (no such bucket/scheme reachable) floors, not raises
    assert _state_partitions(spark, "file:///nonexistent_meos_r17") == "4"


def test_evicting_replay_runs_two_batches_and_evicts_no_one(spark):
    """The registered sf0.01 replay of ``stream_stateful_evicting`` is one
    data micro-batch plus one closing no-data batch (run because the
    watermark advanced). No vessel is idle past the 45-day watermark + the
    10-minute horizon, so the closing batch removes no state row."""
    import json
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    from meos_rs_spark.queries.streaming import stream_stateful_evicting

    progress: list[dict] = []
    done = threading.Event()

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            done.set()

    listener = Listener()
    spark.streams.addListener(listener)
    try:
        out = stream_stateful_evicting(spark, SF_DIRS[1])
        # the listener bus delivers every progress event before termination
        assert done.wait(30), "no termination event"
    finally:
        spark.streams.removeListener(listener)
    batches = sorted(progress, key=lambda p: p["batchId"])
    assert [p["batchId"] for p in batches] == [0, 1]
    data, closing = batches
    assert data["numInputRows"] > 0 and closing["numInputRows"] == 0
    (op,) = closing["stateOperators"]
    assert op["numRowsRemoved"] == 0
    assert op["numRowsTotal"] == out.count()


def test_backlog_bytes_sums_nested_layouts(spark):
    """A Spark-written dataset is a directory: ``events.parquet/`` holding
    part files (possibly under partition subdirectories) plus ``_SUCCESS``
    and ``.crc`` markers. Both the local and the Hadoop-FS branch sum its
    data files recursively instead of sizing it as 0 and flooring the
    state-partition count at 4."""
    import os
    import tempfile

    from meos_rs_spark.queries.streaming import _backlog_bytes, _state_partitions

    def touch(path: str, size: int) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.truncate(size)

    with tempfile.TemporaryDirectory() as d:
        ev = os.path.join(d, "events.parquet")
        touch(os.path.join(ev, "part-00000.parquet"), 6 << 20)
        touch(os.path.join(ev, "day=1", "part-00001.parquet"), 5 << 20)
        touch(os.path.join(ev, "day=2", "deep", "part-00002.parquet"), 4 << 20)
        touch(os.path.join(ev, "_SUCCESS"), 0)
        touch(os.path.join(ev, ".part-00000.parquet.crc"), 1 << 20)
        touch(os.path.join(d, "orders.parquet"), 9 << 20)  # not the backlog
        for where in (d, "file://" + d):
            assert _backlog_bytes(spark, where) == (15 << 20), where
            assert _state_partitions(spark, where) == "15", where
        # dir-total fallback (no events table): dataset dirs count in full
        os.rename(ev, os.path.join(d, "a.parquet"))
        for where in (d, "file://" + d):
            assert _backlog_bytes(spark, where) == (24 << 20), where
