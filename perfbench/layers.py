"""Layer readers for the traced run: spans, Spark status-store deltas, the
streaming listener, wrappers around staging and sink writes, and direct
kernel throughput.

Everything here observes the engine from outside: it wraps public entry
points or reads Spark's own status store, and changes no package code.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

from tools.probekit import (
    _iter_scala_seq,
    _status_store,
    shuffle_delta,
    shuffle_stage_keys,
    task_share,
)

MB = 1024.0 * 1024.0

#: the package modules a query's family is named after
FAMILIES = (
    "flagship", "trajectory", "boxes", "relational", "windows", "dedup",
    "similarity", "textanalysis", "multimodal", "streaming", "sources_sinks",
)

SPARK_METRICS = (
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.task_run_s", "s", "lower"),
    ("spark.task_cpu_s", "s", "lower"),
    ("spark.core_util", "fraction", "higher"),
    ("spark.idle_gap_s", "s", "lower"),
    ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.max_task_share", "fraction", "lower"),
    ("spark.spill_mem_mb", "MB", "lower"),
    ("spark.spill_disk_mb", "MB", "lower"),
)

STREAM_METRICS = (
    ("stream.batches", "count", "lower"),
    ("stream.add_batch_ms", "ms", "lower"),
    ("stream.query_planning_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.commit_offsets_ms", "ms", "lower"),
    ("stream.latest_offset_ms", "ms", "lower"),
    ("stream.state_rows", "count", "lower"),
    ("stream.state_mem_mb", "MB", "lower"),
    ("stream.state_commit_ms", "ms", "lower"),
)

KERNEL_METRICS = (
    ("kernel.crs.utm_rows_per_s", "1/s", "higher"),
    ("kernel.crs.lcc_rows_per_s", "1/s", "higher"),
    ("kernel.media.jpeg_docs_per_s", "1/s", "higher"),
    ("kernel.quantize.nearest_centroid_rows_per_s", "1/s", "higher"),
    ("kernel.quantize.pq_adc_rows_per_s", "1/s", "higher"),
    ("kernel.embeddings.cosine_rows_per_s", "1/s", "higher"),
)


def per_layer_metrics(query_names) -> list[tuple[str, str, str]]:
    """Every per-layer metric a traced run prints, as (name, unit, better)."""
    out = [
        ("session.get_spark_s", "s", "lower"),
        ("registry.load_registry_s", "s", "lower"),
        ("warmup_s", "s", "lower"),
        ("sources.load_table_s", "s", "lower"),
        ("trajectory.posits_xy_s", "s", "lower"),
        ("traced.pass_s", "s", "lower"),
        ("peak_rss_mb", "MB", "lower"),
    ]
    for fam in FAMILIES:
        out += [(f"queries.{fam}.plan_s", "s", "lower"), (f"queries.{fam}.exec_s", "s", "lower")]
    out += [(f"query.{q}.s", "s", "lower") for q in query_names]
    out += list(SPARK_METRICS)
    out += [
        ("staging.calls", "count", "lower"),
        ("staging.write_s", "s", "lower"),
        ("staging.bytes", "bytes", "lower"),
    ]
    out += list(KERNEL_METRICS)
    out += list(STREAM_METRICS)
    out += [("sinks.write_s", "s", "lower"), ("scratch.bytes_written", "bytes", "lower")]
    return out


# --- spans -------------------------------------------------------------------


class Spans:
    """An in-memory span tree of (name, start, end, parent) records."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        self.spans.append({"name": name, "start": start, "end": end, "parent": parent, **attrs})
        return len(self.spans) - 1

    @property
    def current(self) -> int | None:
        return self._stack[-1] if self._stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        idx = self.add(name, time.time(), 0.0, self.current, **attrs)
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def self_times(self) -> list[float]:
        """Each span's duration minus the union of its children's cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return [
            (s["end"] - s["start"]) - union_length(kids.get(i, []), s["start"], s["end"])
            for i, s in enumerate(self.spans)
        ]


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# --- Spark status store ------------------------------------------------------


def _ms(opt) -> float | None:
    """A scala ``Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def flush_listeners(spark) -> None:
    """Let the async listener bus deliver pending events to the store."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    except Exception:
        time.sleep(0.05)


def job_keys(spark) -> set:
    store, _, _ = _status_store(spark)
    return {j.jobId() for j in _iter_scala_seq(store.jobsList(None))}


class SparkDelta:
    """Status-store reads around one query: the stages and jobs that
    appeared while it ran, summed, plus their time intervals."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.stages0 = shuffle_stage_keys(spark)
        self.jobs0 = job_keys(spark)

    def read(self, wall_s: float, start: float, end: float, cores: int) -> dict:
        flush_listeners(self.spark)
        spark = self.spark
        store, empty, quant = _status_store(spark)
        out = dict.fromkeys(
            ("stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
             "shuffle_wait_s", "shuffle_write_s", "spill_mem_mb", "spill_disk_mb"),
            0.0,
        )
        intervals, stage_spans = [], []
        for s in _iter_scala_seq(store.stageList(empty, False, False, quant, empty)):
            if (s.stageId(), s.attemptId()) in self.stages0:
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["task_run_s"] += s.executorRunTime() / 1e3
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_wait_s"] += s.shuffleFetchWaitTime() / 1e3
            out["shuffle_write_s"] += s.shuffleWriteTime() / 1e9
            out["spill_mem_mb"] += s.memoryBytesSpilled() / MB
            out["spill_disk_mb"] += s.diskBytesSpilled() / MB
            a, b = _ms(s.firstTaskLaunchedTime()), _ms(s.completionTime())
            if a is not None and b is not None:
                intervals.append((a, b))
                stage_spans.append((f"stage {s.stageId()}", a, b))
        jobs = []
        for j in _iter_scala_seq(store.jobsList(None)):
            if j.jobId() in self.jobs0:
                continue
            a, b = _ms(j.submissionTime()), _ms(j.completionTime())
            jobs.append((f"job {j.jobId()}", a, b if b is not None else a))
        delta = shuffle_delta(spark, self.stages0) or {}
        out["jobs"] = len(jobs)
        out["shuffle_read_mb"] = delta.get("shuffle_read", 0) / MB
        out["shuffle_write_mb"] = delta.get("shuffle_write", 0) / MB
        out["max_task_share"] = task_share(delta)
        busy = union_length(intervals, start, end)
        out["busy_s"] = busy
        out["idle_gap_s"] = max(0.0, wall_s - busy)
        out["core_util"] = out["task_run_s"] / (wall_s * cores) if wall_s > 0 else 0.0
        out["job_spans"] = [j for j in jobs if j[1] is not None]
        out["stage_spans"] = stage_spans
        return out


# --- streaming listener ------------------------------------------------------


def make_stream_listener(current_query):
    """A StreamingQueryListener that files every progress event under the
    registry query that was running when the stream started."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.owner: dict[str, str] = {}
            self.progress: list[tuple[str, dict]] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            with self._lock:
                self.owner[str(event.id)] = current_query()

        def onQueryProgress(self, event) -> None:
            p = event.progress
            rec = {
                "ts": p.timestamp,
                "rows": p.numInputRows,
                "dur": dict(p.durationMs or {}),
                "state": [
                    (o.numRowsTotal, o.memoryUsedBytes, o.commitTimeMs)
                    for o in (p.stateOperators or [])
                ],
            }
            with self._lock:
                self.progress.append((self.owner.get(str(p.id), current_query()), rec))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def totals(self) -> dict:
            with self._lock:
                progress = list(self.progress)
            t = dict.fromkeys((m for m, _, _ in STREAM_METRICS), 0.0)
            last_state: dict[str, list] = {}
            for owner, rec in progress:
                d = rec["dur"]
                t["stream.batches"] += 1
                t["stream.add_batch_ms"] += d.get("addBatch", 0)
                t["stream.query_planning_ms"] += d.get("queryPlanning", 0)
                t["stream.wal_commit_ms"] += d.get("walCommit", 0)
                t["stream.commit_offsets_ms"] += d.get("commitOffsets", 0)
                t["stream.latest_offset_ms"] += d.get("latestOffset", 0)
                t["stream.state_commit_ms"] += sum(s[2] for s in rec["state"])
                if rec["state"]:
                    last_state[owner] = rec["state"]
            for state in last_state.values():
                t["stream.state_rows"] += sum(s[0] for s in state)
                t["stream.state_mem_mb"] += sum(s[1] for s in state) / MB
            return t

    return Listener()


# --- staging and sink wrappers -----------------------------------------------


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return total


class WriteWrappers:
    """Wrap ``functions.staging.stage`` and pyspark's ``DataFrameWriter``
    sinks for the traced run; ``restore`` puts the originals back."""

    SINK_METHODS = ("save", "parquet", "json", "csv", "orc", "text", "jdbc", "saveAsTable", "insertInto")

    def __init__(self, spans: Spans) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        from meos_rs_spark.functions import staging

        self.spans = spans
        self.staging = dict.fromkeys(("staging.calls", "staging.write_s", "staging.bytes"), 0.0)
        self.sink_s = 0.0
        self.active = False
        self._depth = 0
        self._saved = [(staging, "stage", staging.stage)]
        self._saved += [(DataFrameWriter, m, getattr(DataFrameWriter, m)) for m in self.SINK_METHODS]
        staging.stage = self._wrap_stage(staging.stage, staging.staged_table_path)
        for m in self.SINK_METHODS:
            setattr(DataFrameWriter, m, self._wrap_sink(getattr(DataFrameWriter, m)))

    def _wrap_stage(self, stage, staged_table_path):
        def traced_stage(df, name, *args, **kwargs):
            self._depth += 1
            try:
                with self.spans.span("staging.stage", table=name):
                    t0 = time.perf_counter()
                    out = stage(df, name, *args, **kwargs)
                    dt = time.perf_counter() - t0
            finally:
                self._depth -= 1
            if self.active:
                self.staging["staging.calls"] += 1
                self.staging["staging.write_s"] += dt
                self.staging["staging.bytes"] += dir_bytes(staged_table_path(df.sparkSession, name))
            return out

        return traced_stage

    def _wrap_sink(self, method):
        def traced_sink(writer, *args, **kwargs):
            if self._depth or not self.active:
                return method(writer, *args, **kwargs)
            self._depth += 1
            t0 = time.perf_counter()
            try:
                return method(writer, *args, **kwargs)
            finally:
                self.sink_s += time.perf_counter() - t0
                self._depth -= 1

        return traced_sink

    def restore(self) -> None:
        for owner, attr, orig in self._saved:
            setattr(owner, attr, orig)


# --- direct layer and kernel timings -----------------------------------------


def _rate(fn, n_items: int, min_s: float = 0.3) -> float:
    """Items per second of ``fn()`` repeated for at least ``min_s``."""
    fn()  # warm caches (side tables, imports)
    reps, t0 = 0, time.perf_counter()
    while True:
        fn()
        reps += 1
        dt = time.perf_counter() - t0
        if dt >= min_s:
            return reps * n_items / dt


def source_timings(spark, data_dir: str, tables) -> dict:
    """Scan cost of the source layer, materialized with a ``noop`` write."""
    from meos_rs_spark.functions.trajectory import posits_xy
    from meos_rs_spark.sources.tables import load_table

    def noop(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    return {
        "sources.load_table_s": sum(noop(load_table(spark, data_dir, t)) for t in tables),
        "trajectory.posits_xy_s": noop(posits_xy(spark, data_dir)),
    }


def kernel_rates(data_dir: str, rows: int = 20_000) -> dict:
    """Throughput of the Python/Arrow kernels called directly on batches
    drawn from the workload's own parquet inputs."""
    import numpy as np
    import pandas as pd
    import pyarrow.parquet as pq

    from meos_rs_spark.functions import crs, embeddings, quantize
    from meos_rs_spark.queries import multimodal, similarity

    ev = pq.read_table(os.path.join(data_dir, "events.parquet"), columns=["user_id", "value"]).slice(0, rows)
    ev = ev.to_pandas()
    lon = pd.Series((ev["value"].to_numpy() * 7.0) % 360.0 - 180.0)
    lat = pd.Series((ev["user_id"].to_numpy() % 160) - 80.0 + ev["value"].to_numpy() % 1.0)
    emb = pq.read_table(os.path.join(data_dir, "embeddings.parquet"), columns=["embedding"])
    vecs = emb.column("embedding").to_pandas().map(lambda v: np.asarray(v, dtype=np.float32))
    vecs = vecs.reset_index(drop=True)
    other = vecs.iloc[::-1].reset_index(drop=True)
    docs = pq.read_table(os.path.join(data_dir, "documents.parquet"), columns=["doc_id", "text"]).slice(0, 500)
    docs = docs.to_pandas()
    docs = docs[docs["text"].map(lambda s: s.isascii())]
    payloads = pd.DataFrame({"doc_id": docs["doc_id"], "payload": docs["text"].map(str.encode)})

    dim = similarity.DIM
    nearest = quantize.make_nearest_centroid_udf(
        quantize.source_cents_spec(data_dir, similarity._KM_K, dim), metric="l2"
    ).func
    adc = quantize.make_pq_adc_udf(
        quantize.source_pq_cb_spec(data_dir, similarity.PQ_K, dim, similarity.PQ_M, similarity.PQ_SUBDIM),
        quantize.source_cents_spec(data_dir, similarity.N_PROBES, dim),
        n_sub=similarity.PQ_M,
        subdim=similarity.PQ_SUBDIM,
    ).func
    return {
        "kernel.crs.utm_rows_per_s": _rate(lambda: crs.utm_udf.func(lon, lat), len(lon)),
        "kernel.crs.lcc_rows_per_s": _rate(lambda: crs.lcc93_udf.func(lon, lat), len(lon)),
        "kernel.media.jpeg_docs_per_s": _rate(
            lambda: list(multimodal._jpeg_decode_features(iter([payloads]))), len(payloads)
        ),
        "kernel.quantize.nearest_centroid_rows_per_s": _rate(lambda: nearest(vecs), len(vecs)),
        "kernel.quantize.pq_adc_rows_per_s": _rate(lambda: adc(vecs), len(vecs)),
        "kernel.embeddings.cosine_rows_per_s": _rate(lambda: embeddings.cosine.func(vecs, other), len(vecs)),
    }
