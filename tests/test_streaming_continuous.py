"""Long-lived streaming operation (r6 VERDICT "What's missing" item 3).

Every registered streaming query replays a FINITE file source under
``availableNow`` — correct for oracle checking, but it never exercises a
stream that *keeps running*: repeated wall-clock triggers against an
unbounded source, and Spark's continuous-processing mode (epoch-based,
no micro-batches at all). These tests close that gap with the ``rate``
family of sources — the public unbounded source that needs no external
broker — and pin the semantics a long-lived deployment relies on:

* micro-batch mode with a ``processingTime`` trigger commits MANY batches
  over the query's lifetime, and the sink holds each rate value exactly
  once (exactly-once within a run: offsets are tracked per batch, so no
  value is double-emitted even though batch boundaries are wall-clock);
* ``rate-micro-batch`` makes the per-batch contents deterministic
  (``rowsPerBatch`` rows per trigger, values contiguous from 0) — the
  contract our foreachBatch/idempotent-sink recipes assume;
* ``trigger(continuous=...)`` genuinely runs map-only pipelines (the
  reference has no streaming at all — ``ais_to_db.rs`` is batch upsert —
  so this is the NS envelope, not parity), with at-least-once delivery:
  transforms hold row-wise, duplicates possible, so assertions dedupe;
* the documented continuous-mode limitation is REAL: an aggregation under
  a continuous trigger must be rejected at start, not silently degraded.

No registry entries here (breadth freeze): engine-envelope pins only.
"""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import functions as F


def _drain(q, seconds: float) -> set[int]:
    """Let a running query tick for ``seconds``, collecting committed batch
    ids from progress events; returns the distinct batch ids seen."""
    seen: set[int] = set()
    deadline = time.time() + seconds
    while time.time() < deadline:
        p = q.lastProgress
        if p is not None:
            seen.add(p["batchId"])
        time.sleep(0.2)
    return seen


def _stop(q) -> None:
    q.stop()
    q.awaitTermination()


def test_processing_time_stream_lives_across_many_triggers(spark):
    """A rate-source stream under a 300 ms processingTime trigger commits
    several batches over a ~5 s lifetime, and the memory sink ends up with
    the values 0..N-1 each exactly once — the long-lived micro-batch
    contract (offset tracking makes wall-clock batch boundaries invisible
    to the result)."""
    name = f"rate_pt_{uuid.uuid4().hex[:8]}"
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .option("numPartitions", "2")
        .load()
    )
    q = (
        src.select("value", (F.col("value") % 7).alias("bucket"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        batches = _drain(q, 5.0)
    finally:
        _stop(q)
    assert len(batches) >= 3, f"expected a long-lived query, saw batches {batches}"

    rows = spark.table(name).collect()
    assert rows, "no rows reached the sink"
    values = sorted(r["value"] for r in rows)
    # exactly-once within the run: the value set is 0..N-1 with no gaps or
    # duplicates, regardless of how the wall clock cut the batches
    assert values == list(range(len(values)))
    assert all(r["bucket"] == r["value"] % 7 for r in rows)


def test_rate_micro_batch_source_is_deterministic_per_batch(spark):
    """``rate-micro-batch`` decouples batch contents from the wall clock:
    every trigger delivers exactly ``rowsPerBatch`` rows and values stay
    contiguous from 0 — the deterministic replay substrate the
    idempotent-sink (foreachBatch) recipe assumes."""
    name = f"rate_mb_{uuid.uuid4().hex[:8]}"
    rows_per_batch = 40
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("numPartitions", "2")
        .load()
    )
    q = (
        src.select("value")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        _drain(q, 4.0)
    finally:
        _stop(q)

    values = sorted(r["value"] for r in spark.table(name).collect())
    assert values, "no rows reached the sink"
    assert len(values) % rows_per_batch == 0, (
        f"committed row count {len(values)} is not a whole number of "
        f"{rows_per_batch}-row batches"
    )
    assert values == list(range(len(values)))


def test_continuous_trigger_runs_map_only_pipeline(spark):
    """True continuous-processing operation: a map-only pipeline under
    ``trigger(continuous='1 second')`` starts, flows rows (epoch-based, no
    micro-batches), and every delivered row satisfies the transform.
    Delivery is at-least-once, so the check dedupes by value first."""
    name = f"rate_cont_{uuid.uuid4().hex[:8]}"
    src = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .option("numPartitions", "2")
        .load()
    )
    q = (
        src.select("value", (F.col("value") * 2).alias("doubled"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(continuous="1 second")
        .start()
    )
    try:
        time.sleep(5.0)
        assert q.isActive, f"continuous query died: {q.exception()}"
    finally:
        _stop(q)

    rows = spark.table(name).collect()
    assert rows, "continuous query delivered nothing in 5 s"
    by_value = {}
    for r in rows:
        by_value.setdefault(r["value"], set()).add(r["doubled"])
    assert all(dv == {v * 2} for v, dv in by_value.items()), (
        "transform violated on delivered rows"
    )


def test_evicting_stateful_assembly_bounds_state_under_key_churn(spark):
    """The registered ``stream_stateful_evicting`` pipeline under unbounded
    key churn: with every row a brand-new key and event time driven by the
    data, the state store must evict each key once the watermark passes
    its last posit + the idle horizon, instead of growing with every key
    ever seen — the registered NoTimeout accumulator is
    availableNow-replay-only. Same ``evicting_assembly`` builder the
    registered query runs, just under a 1-minute watermark so eviction
    fires inside the test window."""
    from meos_rs_spark.queries.streaming import evicting_assembly
    from tools.probe_stream_state import _ROWS_PER_BATCH, _source, drive

    out = evicting_assembly(_source(spark), "1 minute")
    curve = drive(spark, out, n_batches=15, deadline_s=120)
    assert curve, "no state metrics reported"
    # keys seen so far grow 600/batch forever; a key is evicted once the
    # watermark (1 min behind the newest posit) passes its last posit +
    # 10 min, so retained state covers the ~660 s before the newest posit
    # and once enough batches commit the store must hold well under half
    # of them. Below ~8 batches the horizon hasn't emptied relative to the
    # total and the 0.5 bound is not yet meaningful — a host-noise stall
    # (this VM's documented multi-× slowdowns) must read as inconclusive,
    # not as an eviction failure.
    if curve[-1]["batch"] < 8:
        pytest.skip(
            f"only {curve[-1]['batch'] + 1} batches committed in 120s — "
            "host too slow for the bound to bind"
        )
    total_keys = (curve[-1]["batch"] + 1) * _ROWS_PER_BATCH
    assert 0 < curve[-1]["rows"] < total_keys * 0.5, (curve[-1], total_keys)


def test_evicting_timeout_anchors_at_each_keys_last_posit(spark):
    """Eviction timing, exactly: a key is removed in the first micro-batch
    whose watermark passes its last posit + ``_EVICT_IDLE_MS``, and no
    earlier. A watermark-anchored timeout set in the first micro-batch
    (watermark still 0) would instead expire every batch-0 key as soon as
    the watermark first advances, idle or not.

    Source: 600 new keys per batch, key v posted at ``_EPOCH_S`` + v s.
    Under a 1-minute watermark, batch b evicts with watermark
    ``_EPOCH_S + 600 b - 61`` s, which has passed key v's horizon
    (v + 600 s) for every v <= 600 b - 662: batch 1 removes 0 rows,
    batch 2 removes 539, every later batch 600."""
    from meos_rs_spark.queries.streaming import _EVICT_IDLE_MS, evicting_assembly
    from tools.probe_stream_state import _ROWS_PER_BATCH, _source, drive

    curve = drive(
        spark, evicting_assembly(_source(spark), "1 minute"), n_batches=5,
        deadline_s=120,
    )
    if not curve or curve[-1]["batch"] < 3:
        pytest.skip("fewer than 4 batches committed in 120s — host too slow")

    def evicted_by(b: int) -> int:
        """Keys removed by the end of batch b: every v with
        v + idle < watermark, the watermark being the newest posit so far
        (rows * b - 1 s) less the 60 s delay."""
        return max(0, _ROWS_PER_BATCH * b - 61 - _EVICT_IDLE_MS // 1000)

    for c in curve:
        b = c["batch"]
        assert c["removed"] == evicted_by(b) - evicted_by(b - 1), c
        assert c["rows"] == _ROWS_PER_BATCH * (b + 1) - evicted_by(b), c


def test_continuous_trigger_rejects_aggregation(spark):
    """Continuous mode supports map-like operations only; an aggregation
    must be rejected when the query starts (the documented limitation) —
    if Spark ever silently accepted it, our 'streaming aggregations are
    micro-batch-only' design note would be stale."""
    src = spark.readStream.format("rate").option("rowsPerSecond", "10").load()
    agg = src.groupBy((F.col("value") % 10).alias("k")).count()
    with pytest.raises(Exception) as exc_info:
        q = (
            agg.writeStream.format("memory")
            .queryName(f"rate_bad_{uuid.uuid4().hex[:8]}")
            .outputMode("complete")
            .trigger(continuous="1 second")
            .start()
        )
        # some Spark versions surface the rejection on the stream thread
        # instead of at start(): give it a beat, then re-raise
        try:
            time.sleep(2.0)
            if q.exception() is not None:
                raise q.exception()
            pytest.fail("aggregation under continuous trigger was accepted")
        finally:
            q.stop()
    assert "continuous" in str(exc_info.value).lower()
