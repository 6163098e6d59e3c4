"""Streaming state-growth probe.

The registered streaming queries prove CORRECTNESS over finite
``availableNow`` replays, and the continuous pins prove liveness over many
commits — but state-store SIZE vs key count over a long run was never
measured, and unbounded state is the 100 TB streaming killer. This drives
four long-lived stateful shapes across ~100 micro-batches each, over a
deterministic ``rate-micro-batch`` source whose KEY CARDINALITY GROWS
WITHOUT BOUND (every row a brand-new key) and whose event time is derived
from ``value`` (1 s per row, offset to a realistic epoch so the first
batch's watermark of 0 lies far behind the data, as in any real stream),
so watermark motion is data-driven and the curves are
wall-clock-independent:

1. ``window_agg``   — watermarked tumbling-window count (engine eviction);
2. ``dedup``        — watermarked dropDuplicates (the dedup recipe);
3. ``custom_evict`` — applyInPandasWithState trajectory assembly with
   EventTimeTimeout eviction (``queries.streaming.traj_state_fn_evicting``,
   the long-lived deployment recipe);
4. ``custom_noevict`` — the same accumulator with NoTimeout: the CONTROL
   leg. Correct for finite replay, documented-unbounded here — it must
   show monotone growth, proving the instrument detects the failure mode.

Per batch (from ``recentProgress``): state rows, rows removed, state
memory bytes, watermark. Verdict per leg: FLAT when the max state-row
count over the last quarter of batches is within ``_FLAT_TOL`` of the
second quarter's (the watermark horizon fills during the first quarter);
the control leg must NOT be flat.

``python -m tools.probe_stream_state [n_batches] [out_json]`` prints a
markdown fragment for SCALE_r09.md and writes the raw curves as JSON.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

#: flat tolerance: late-quarter max state rows ≤ 1.25 × mid-quarter max
#: (micro-batch boundaries wobble which windows are open at sample time)
_FLAT_TOL = 1.25

_ROWS_PER_BATCH = 600  # event time advances 600 s per batch (1 s per row)
_EPOCH_S = 1_700_000_000  # event time of value 0 (2023-11-14 22:13:20 UTC)


def _source(spark):
    """Unbounded deterministic source: one NEW key per row, event time =
    ``_EPOCH_S`` + value seconds (data-driven watermark, no wall-clock
    coupling)."""
    return (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(_ROWS_PER_BATCH))
        .option("numPartitions", "4")
        .load()
        .select(
            F.col("value").alias("user_id"),  # unbounded key churn
            F.timestamp_seconds(F.col("value") + _EPOCH_S).alias("ts"),
            (F.col("value") % 97).cast("double").alias("lon"),
        )
    )


def _legs(spark) -> dict:
    from pyspark.sql.streaming.state import GroupStateTimeout

    from meos_rs_spark.queries.streaming import (
        _STATE_OUTPUT,
        _STATE_SCHEMA,
        _traj_state_fn,
        evicting_assembly,
    )

    src = _source(spark)
    return {
        "window_agg": src.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "5 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n")),
        "dedup": src.withWatermark("ts", "30 minutes").dropDuplicates(
            ["user_id", "ts"]
        ),
        # byte-for-byte the registered stream_stateful_evicting pipeline,
        # just under a short watermark so eviction fires within the probe
        "custom_evict": evicting_assembly(src, "30 minutes"),
        "custom_noevict": src.groupBy("user_id").applyInPandasWithState(
            _traj_state_fn,
            outputStructType=_STATE_OUTPUT,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
    }


def drive(spark, df, n_batches: int, deadline_s: float = 600.0) -> list[dict]:
    """Run ``df`` to a memory sink until ``n_batches`` commit; return the
    per-batch state curve [{batch, rows, removed, bytes, watermark}, ...]."""
    # recentProgress retains the last N updates — size it to the run
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", str(n_batches + 20))
    q = (
        df.writeStream.format("memory")
        .queryName(f"state_probe_{uuid.uuid4().hex[:8]}")
        .outputMode("update")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            p = q.lastProgress
            if p is not None and p["batchId"] >= n_batches:
                break
            if q.exception() is not None:
                raise q.exception()
            time.sleep(0.25)
        progress = []
        for j in q.recentProgress:
            if isinstance(j, dict):
                progress.append(j)
            elif isinstance(j, str):
                progress.append(json.loads(j))
            else:  # StreamingQueryProgress object (classic API)
                progress.append(json.loads(j.json))
    finally:
        q.stop()
        q.awaitTermination()
    curve = []
    for p in progress:
        ops = p.get("stateOperators") or []
        if not ops:
            continue
        curve.append(
            {
                "batch": p["batchId"],
                "rows": sum(o.get("numRowsTotal", 0) for o in ops),
                "removed": sum(o.get("numRowsRemoved", 0) for o in ops),
                "bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
                "watermark": p.get("eventTime", {}).get("watermark"),
            }
        )
    curve.sort(key=lambda c: c["batch"])
    return curve


def verdict(curve: list[dict]) -> tuple[str, float]:
    """FLAT when the late-quarter max is within _FLAT_TOL of the
    mid-quarter max (horizon fills during the first quarter)."""
    if len(curve) < 8:
        return "TOO-SHORT", float("nan")
    n = len(curve)
    mid = max(c["rows"] for c in curve[n // 4 : n // 2]) or 1
    late = max(c["rows"] for c in curve[3 * n // 4 :])
    ratio = round(late / mid, 3)
    return ("FLAT" if ratio <= _FLAT_TOL else "GROWING"), ratio


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/stream_state_r9.json"

    from tools.probekit import bench_session

    spark = bench_session("meos-rs-spark-stream-state-probe")
    results: dict[str, dict] = {}
    print(
        f"## Streaming state growth over ~{n_batches} micro-batches, "
        "unbounded key churn\n"
    )
    print("| leg | batches | rows@25% | rows@50% | rows@75% | rows@end | state MB@end | late/mid | verdict |")
    print("|---|---|---|---|---|---|---|---|---|")
    for name, df in _legs(spark).items():
        curve = drive(spark, df, n_batches)
        v, ratio = verdict(curve)
        expected_grow = name == "custom_noevict"
        n = len(curve)
        if n:
            pts = [curve[min(n - 1, (n * q) // 100)]["rows"] for q in (25, 50, 75)]
            end = curve[-1]
        else:  # deadline hit before any stateful progress — keep the run
            pts = [0, 0, 0]
            end = {"rows": 0, "bytes": 0}
        results[name] = {
            "curve": curve,
            "verdict": v,
            "late_over_mid": ratio,
            "expected": "GROWING" if expected_grow else "FLAT",
        }
        print(
            f"| {name} | {n} | {pts[0]} | {pts[1]} | {pts[2]} | {end['rows']} "
            f"| {end['bytes'] / 1048576:.2f} | {ratio} | {v}"
            f"{' (control: growth expected)' if expected_grow else ''} |",
            flush=True,
        )
    with open(out, "w", encoding="utf-8") as fh:
        json.dump(results, fh, indent=1)
    bad = [
        n
        for n, r in results.items()
        if r["verdict"] != r["expected"] and r["verdict"] != "TOO-SHORT"
    ]
    print(f"\nverdicts vs expectation: {'OK' if not bad else 'MISMATCH ' + str(bad)} -> {out}")


if __name__ == "__main__":
    main()
