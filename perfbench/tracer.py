"""The traced run: a span tree ``workload > pass > query > {plan, exec}``
with staging calls, Spark jobs/stages and stream batches under the query
that caused them, plus the per-layer metrics and attribution table built
from it."""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

from layers import (
    FAMILIES,
    SparkDelta,
    Spans,
    WriteWrappers,
    dir_bytes,
    kernel_rates,
    make_stream_listener,
    per_layer_metrics,
    source_timings,
)
from workloads import WORKLOADS

ALL_QUERIES = tuple(dict.fromkeys(q for w in WORKLOADS.values() for q in w.queries))


class Tracer:
    def __init__(self, client, scratch: Path, cores: int) -> None:
        self.client = client
        self.scratch = scratch
        self.cores = cores
        self.spans = Spans()
        self.writes = WriteWrappers(self.spans)
        self.listener = make_stream_listener(lambda: client.current)
        client.spark.streams.addListener(self.listener)
        self.metric_defs = per_layer_metrics(ALL_QUERIES)
        self.records: list[dict] = []  # one per query execution
        self._root = self.spans.span("workload", workload=client.workload.name)
        self._root.__enter__()

    def span(self, name: str, **attrs):
        return self.spans.span(name, **attrs)

    @contextmanager
    def query(self, name: str):
        spark = self.client.spark
        delta = SparkDelta(spark)
        scratch0 = dir_bytes(str(self.scratch))
        sink0 = self.writes.sink_s
        staging0 = dict(self.writes.staging)
        batches0 = len(self.listener.progress)
        self.writes.active = True
        with self.spans.span("query", query=name) as idx:
            yield
        self.writes.active = False
        s = self.spans.spans[idx]
        rec = delta.read(s["end"] - s["start"], s["start"], s["end"], self.cores)
        for label, a, b in rec.pop("job_spans") + rec.pop("stage_spans"):
            self.spans.add(label, a, b, idx)
        for _owner, p in self.listener.progress[batches0:]:
            dur = p["dur"].get("triggerExecution", 0) / 1e3
            start = _iso_epoch(p["ts"])
            if start is not None:
                self.spans.add("stream.batch", start, start + dur, idx, rows=p["rows"])
        plan = next(x for x in self.spans.spans[idx:] if x["name"] == "plan" and x["parent"] == idx)
        rec.update(
            name=name,
            family=family(self.client.registry, name),
            wall_s=s["end"] - s["start"],
            plan_s=plan["end"] - plan["start"],
            sink_s=self.writes.sink_s - sink0,
            staging_s=self.writes.staging["staging.write_s"] - staging0["staging.write_s"],
            scratch_bytes=max(0, dir_bytes(str(self.scratch)) - scratch0),
            batches=len(self.listener.progress) - batches0,
        )
        self.records.append(rec)

    def finish(self, passes, setup, workload, data_dir: str) -> dict:
        """Per-layer metrics (per-pass means of the traced passes)."""
        spark = self.client.spark
        self._root.__exit__(None, None, None)
        self.writes.restore()
        spark.streams.removeListener(self.listener)
        n = len(passes)
        m = dict.fromkeys((name for name, _, _ in self.metric_defs), 0.0)
        for key in ("session.get_spark_s", "registry.load_registry_s", "warmup_s"):
            m[key] = setup[key]
        m["traced.pass_s"] = statistics.median(p["wall"] for p in passes)
        recs = self.records
        for name in workload.queries:
            m[f"query.{name}.s"] = statistics.median(
                x["s"] for p in passes for x in p["queries"] if x["name"] == name
            )
        for p in passes:
            for x in p["queries"]:
                fam = family(self.client.registry, x["name"])
                if fam in FAMILIES:
                    m[f"queries.{fam}.plan_s"] += x["plan_s"] / n
                    m[f"queries.{fam}.exec_s"] += x["exec_s"] / n
        for key in ("jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
                    "idle_gap_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mem_mb", "spill_disk_mb"):
            m[f"spark.{key}"] = sum(r[key] for r in recs) / n
        wall = sum(r["wall_s"] for r in recs)
        m["spark.core_util"] = sum(r["task_run_s"] for r in recs) / (wall * self.cores) if wall else 0.0
        m["spark.max_task_share"] = max((r["max_task_share"] for r in recs), default=0.0)
        for key, v in self.writes.staging.items():
            m[key] = v / n
        # state size is the last reading per query; the rest add up per pass
        last = ("stream.state_rows", "stream.state_mem_mb")
        m.update({k: v if k in last else v / n for k, v in self.listener.totals().items()})
        m["sinks.write_s"] = self.writes.sink_s / n
        m["scratch.bytes_written"] = sum(r["scratch_bytes"] for r in recs) / n
        tables = ("lineitem", "orders", "customer", "part", "supplier", "events", "documents", "embeddings")
        m.update(source_timings(spark, data_dir, tables))
        m.update(kernel_rates(data_dir))
        self._report(workload)
        return m

    def _report(self, workload) -> None:
        """Write the spans once, and print the attribution table."""
        out = Path.cwd() / ".perfbench-traces"
        out.mkdir(exist_ok=True)
        self_times = self.spans.self_times()
        dump = [dict(s, self_s=t) for s, t in zip(self.spans.spans, self_times)]
        path = out / f"{workload.name}-{int(time.time())}.json"
        path.write_text(json.dumps(dump))
        print(f"# spans: {path.relative_to(Path.cwd())}")
        for line in attribution_table(self.records, workload.queries):
            print(f"# {line}")


def family(registry, name: str) -> str:
    """The query's family: the ``meos_rs_spark.queries`` module it lives in."""
    return registry[name].fn.__module__.rsplit(".", 1)[-1]


def _iso_epoch(ts: str | None) -> float | None:
    from datetime import datetime

    if not ts:
        return None
    try:
        return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
    except ValueError:
        return None


def attribution_table(records: list[dict], order) -> list[str]:
    """Where each query's time goes, from its last traced execution.

    ``busy`` is the wall time some stage of the query had a task running;
    ``idle gap`` is the rest (driver-side planning, Python driver work,
    scheduling). Task time splits into JVM CPU, shuffle fetch/write wait,
    and off-CPU time (waiting on Python workers or IO)."""
    last = {r["name"]: r for r in records}
    head = (
        "| query | wall s | plan s | busy s | idle gap s | task run s | JVM CPU s | "
        "shuffle s | off-CPU s | core util | stages | shuffle MB | staging s | sink s | batches |"
    )
    lines = [head, "|" + "---|" * 15]
    for name in order:
        r = last.get(name)
        if r is None:
            continue
        shuffle = r["shuffle_wait_s"] + r["shuffle_write_s"]
        off_cpu = max(0.0, r["task_run_s"] - r["task_cpu_s"] - shuffle)
        lines.append(
            f"| {name} | {r['wall_s']:.2f} | {r['plan_s']:.2f} | {r['busy_s']:.2f} | "
            f"{r['idle_gap_s']:.2f} | {r['task_run_s']:.2f} | {r['task_cpu_s']:.2f} | {shuffle:.2f} | "
            f"{off_cpu:.2f} | {r['core_util']:.2f} | {int(r['stages'])} | "
            f"{r['shuffle_read_mb'] + r['shuffle_write_mb']:.1f} | {r['staging_s']:.2f} | "
            f"{r['sink_s']:.2f} | {r['batches']} |"
        )
    return lines
