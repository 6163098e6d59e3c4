"""The engine benchmark: one closed-loop client on ``local[nproc]``.

    python3 perfbench/run.py --workload batch_sf01 --seed 1 --seconds 15 --trace 0

Run from the repository root. The run

1. writes the workload's seeded inputs into a per-run scratch dir
   (``perfbench/gen.py``), which also holds ``TMPDIR``, the Spark local
   dirs, the warehouse and the staging root, and is deleted at the end;
2. times set-up: ``session.get_spark`` + ``registry.load_registry`` + a
   warm pass over the workload's queries on the sf0.001 inputs;
3. computes every query's DuckDB oracle on the inputs (untimed);
4. runs passes over the workload's queries for ``--seconds`` (at least
   one): each query is ``registry.load_registry()[name].fn(spark, dir)`` and
   then ``toPandas()``, under a watchdog;
5. checks every collected result against its oracle, outside the timed
   region, with ``tests.oracle.compare``.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the same command records spans and layer counts
(``perfbench/layers.py``) and the last line carries the per-layer
metrics. Lines before it are ``#``-prefixed details: input sizes, sample
counts and percentiles, failures by query and cause, and in a traced run
the attribution table.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
QUERY_TIMEOUT_S = 60.0
#: no query starts, and every watchdog fires, this long after the run began,
#: so a run exits within 180 s even when queries hang
RUN_DEADLINE_S = 150.0
#: stop starting new passes once this much of the run's wall time is used
RUN_BUDGET_S = 120.0

END_TO_END = (
    ("pass_s", "s"),
    ("query_geomean_s", "s"),
    ("setup_s", "s"),
)


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    return p.parse_args(argv)


def say(line: str) -> None:
    print(f"# {line}", flush=True)


# --- environment -------------------------------------------------------------


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def prepare_env(scratch: Path) -> None:
    """Point every scratch writer of Python, the JVM and Spark at ``scratch``."""
    for sub in ("tmp", "local", "warehouse", "staging"):
        (scratch / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(scratch / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(scratch / "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    # every JVM, the spark-submit launcher's included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={scratch / 'tmp'} -Dderby.system.home={scratch / 'tmp'} -XX:-UsePerfData"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.sql.warehouse.dir={scratch / 'warehouse'}",
            f"--conf spark.meos.staging.dir={scratch / 'staging'}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]
    )


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and all its descendants (the JVM and
    the Python workers), sampled every 0.2 s."""

    PAGE = os.sysconf("SC_PAGE_SIZE")

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def sample(self) -> int:
        total = 0
        for pid in [os.getpid(), *descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self.PAGE
            except (OSError, IndexError, ValueError):
                pass
        self.peak = max(self.peak, total)
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(0.2):
            self.sample()

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()
        self.sample()


def stop_engine(spark) -> None:
    """Stop the session, the JVM gateway and every process they started,
    and wait until each has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if spark is not None:
        spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=20)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in descendants(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except OSError:
            pass


# --- statistics --------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def quartiles(xs) -> tuple[float, float]:
    if len(xs) < 2:
        return float(xs[0]), float(xs[0])
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def tail_percentile(n: int) -> float | None:
    """The highest percentile with at least 10 samples beyond it."""
    if n < 11:
        return None
    return math.floor(100.0 * (1.0 - 10.0 / n))


def geomean(xs) -> float:
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


# --- the client --------------------------------------------------------------


class Collected:
    """A collected result in the shape ``tests.oracle.compare`` reads."""

    def __init__(self, pdf) -> None:
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


class Client:
    def __init__(self, workload, data_dir: str, warm_dir: str, deadline: float) -> None:
        self.workload = workload
        self.data_dir = data_dir
        self.warm_dir = warm_dir
        self.deadline = deadline  # perf_counter() value
        self.tracer = None
        self.spark = None
        self.registry = None
        self.current = ""

    def setup(self) -> dict:
        """get_spark + load_registry + warm pass at sf0.001, timed by part."""
        from meos_rs_spark.registry import load_registry
        from tools.probekit import bench_session

        t0 = time.perf_counter()
        # get_spark's session with the staging memo off, so every pass
        # does full staging work
        self.spark = bench_session("perfbench")
        t1 = time.perf_counter()
        self.registry = load_registry()
        t2 = time.perf_counter()
        warm = {}
        for name in self.workload.queries:
            tq = time.perf_counter()
            self.registry[name].fn(self.spark, self.warm_dir).toPandas()
            warm[name] = time.perf_counter() - tq
        t3 = time.perf_counter()
        return {"setup_s": t3 - t0, "session.get_spark_s": t1 - t0,
                "registry.load_registry_s": t2 - t1, "warmup_s": t3 - t2, "warm": warm}

    def _cancel(self, name: str, fired: list) -> None:
        fired.append(True)
        try:
            for q in self.spark.streams.active:
                q.stop()
        except Exception:
            pass
        self.spark.sparkContext.cancelJobGroup(name)

    def run_query(self, name: str) -> dict:
        """fn(spark, dir) then toPandas(), under the per-query watchdog."""
        rec = {"name": name, "pdf": None, "error": None, "plan_s": 0.0, "exec_s": 0.0, "s": 0.0}
        limit = min(QUERY_TIMEOUT_S, self.deadline - time.perf_counter())
        if limit <= 0:
            rec["error"] = "not run: run deadline passed"
            return rec
        spark = self.spark
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel=True)
        self.current = name
        fired: list = []
        timer = threading.Timer(limit, self._cancel, (name, fired))
        timer.start()
        tracer = self.tracer
        span = tracer.span if tracer else lambda _name: nullcontext()
        t0 = time.perf_counter()
        try:
            with tracer.query(name) if tracer else nullcontext():
                with span("plan"):
                    df = self.registry[name].fn(spark, self.data_dir)
                t1 = time.perf_counter()
                rec["plan_s"] = t1 - t0
                with span("exec"):
                    rec["pdf"] = df.toPandas()
                rec["exec_s"] = time.perf_counter() - t1
        except Exception as e:  # counted in fail_rate, reported by cause
            msg = (str(e).strip().splitlines() or [""])[0][:300]
            rec["error"] = "timeout" if fired else f"{type(e).__name__}: {msg}"
            rec["exec_s"] = time.perf_counter() - t0 - rec["plan_s"]
        finally:
            timer.cancel()
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            spark.sparkContext.setLocalProperty("spark.job.description", None)
        rec["s"] = rec["plan_s"] + rec["exec_s"]
        return rec


def oracles(workload, data_dir: str) -> dict:
    """Each query's DuckDB oracle result on the run's inputs (untimed)."""
    from meos_rs_spark.registry import load_registry
    from tests.oracle import duck_connection

    reg = load_registry()
    con = duck_connection(data_dir)
    out = {}
    for name in workload.queries:
        sql = reg[name].oracle
        try:
            out[name] = con.sql(sql).df() if sql else None
        except Exception as e:
            out[name] = e
    con.close()
    return out


def check(rec: dict, expected) -> str | None:
    """The cause of a failed execution, or None when it matches its oracle."""
    from tests.oracle import compare

    if rec["error"]:
        return rec["error"]
    if expected is None:
        return "no oracle registered"
    if isinstance(expected, Exception):
        return f"oracle raised {type(expected).__name__}: {expected}"
    issues = compare(Collected(rec["pdf"]), expected, rec["name"])
    return "; ".join(issues)[:500] if issues else None


def run(args) -> dict:
    from gen import write_inputs
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else wl.sf
    t_begin = time.perf_counter()
    # fail before any work outside a checkout of the engine; importing it
    # is left to set-up, which times it
    for mod in ("meos_rs_spark", "tests.oracle", "tools.probekit"):
        if importlib.util.find_spec(mod) is None:
            raise SystemExit(f"{mod} not found: run from the repository root")
    scratch = ROOT / ".perfbench" / f"{wl.name}-{os.getpid()}"
    prepare_env(scratch)

    sampler = None
    client = None
    try:
        data_dir = str(scratch / "inputs")
        warm_dir = str(scratch / "warm")
        stats = write_inputs(data_dir, sf, args.seed)
        write_inputs(warm_dir, 0.001, args.seed)
        say("inputs " + json.dumps({"sf": sf, "seed": args.seed, "tables": stats}))
        t_gen = time.perf_counter()

        tracer = None
        if args.trace:
            sampler = RssSampler()
            sampler.start()
        client = Client(wl, data_dir, warm_dir, t_begin + RUN_DEADLINE_S)
        setup = client.setup()
        t_oracle = time.perf_counter()
        expected = oracles(wl, data_dir)
        t_oracle = time.perf_counter() - t_oracle
        failures: list[str] = []
        attempted = failed = 0

        def one_pass(label: str) -> dict:
            nonlocal attempted, failed
            t0 = time.perf_counter()
            with tracer.span("pass") if tracer else nullcontext():
                recs = [client.run_query(n) for n in wl.queries]
            wall = time.perf_counter() - t0
            for rec in recs:  # untimed: oracle compare
                attempted += 1
                cause = check(rec, expected[rec["name"]])
                if cause:
                    failed += 1
                    failures.append(f"{label} {rec['name']}: {cause}")
                rec.pop("pdf")
            return {"wall": wall, "queries": recs}

        if args.trace:
            from tracer import Tracer

            tracer = Tracer(client, scratch, cores())
            client.tracer = tracer
        passes: list[dict] = []
        t_start = time.perf_counter()
        while True:
            passes.append(one_pass(f"pass {len(passes) + 1}"))
            now = time.perf_counter()
            if (now - t_begin) + passes[-1]["wall"] > RUN_BUDGET_S:
                break
            if now - t_start >= args.seconds:
                break

        pass_walls = [p["wall"] for p in passes]
        per_query = {n: [p["queries"][i]["s"] for p in passes] for i, n in enumerate(wl.queries)}
        lo, hi = quartiles(pass_walls)
        say(
            "pass_s " + json.dumps({
                "median": median(pass_walls), "q1": lo, "q3": hi, "n": len(pass_walls),
                "tail_percentile": tail_percentile(len(pass_walls)), "samples": pass_walls,
            })
        )
        say("warm_s " + json.dumps(setup["warm"]))
        say("query_s " + json.dumps({n: median(v) for n, v in per_query.items()}))
        say("fail_rate " + json.dumps({"value": failed / attempted, "failed": failed, "attempted": attempted}))
        for f in failures:
            say("FAIL " + f)

        if tracer:
            sampler.stop()
            metrics = tracer.finish(passes, setup, wl, data_dir)
            metrics["peak_rss_mb"] = sampler.peak / (1024.0 * 1024.0)
            units = {m: u for m, u, _ in tracer.metric_defs}
            metrics = {m: {"value": v, "unit": units[m]} for m, v in metrics.items()}
        else:
            values = {
                "pass_s": median(pass_walls),
                "query_geomean_s": geomean([median(v) for v in per_query.values()]),
                "setup_s": setup["setup_s"],
            }
            metrics = {m: {"value": values[m], "unit": u} for m, u in END_TO_END}
        say("phases_s " + json.dumps({
            "inputs": t_gen - t_begin, "oracles": t_oracle,
            "setup": setup["setup_s"], "passes": sum(pass_walls),
            "total_before_stop": time.perf_counter() - t_begin,
        }))
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    finally:
        if sampler is not None and sampler.is_alive():
            sampler.stop()
        try:
            stop_engine(client.spark if client else None)
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
            try:
                (ROOT / ".perfbench").rmdir()
            except OSError:
                pass


def main(argv=None) -> int:
    # a terminated run still stops its engine and deletes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, str(Path(__file__).resolve().parent))
    sys.path.insert(1, str(ROOT))
    os.chdir(ROOT)
    args = parse_args(argv)
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
