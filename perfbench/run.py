"""Benchmark runner for the homemade_vector_db_spark engine.

    python3 perfbench/run.py --workload ingest_serve --seed 1 --seconds 10 --trace 0

Run it from the repository root. It generates the workload's inputs from
`--seed` under a run-scoped directory, starts one Spark session on
`local[<usable cores>]`, runs the workload, checks every output, removes
everything the run created, and prints `#`-prefixed report lines followed
by one JSON line: `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` they are
the per-layer ones from the span recorder (`spans.py`). DESIGN.md explains
the workloads and what each metric should move.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")

import numpy as np  # noqa: E402

import workloads  # noqa: E402
from spans import Recorder, median  # noqa: E402

WORKLOADS = {
    "ingest_serve": workloads.ingest_serve,
    "analytics_batch": workloads.analytics_batch,
}
END_TO_END = {"setup_s": "s", "query_ms": "ms", "round_s": "s"}  # name -> unit
OPS = ("text", "vector", "filtered", "hybrid", "metadata", "add", "gate", "persist")
OP_FIELDS = (
    ("build_ms", "build_s", 1e3, "ms"), ("eager_ms", "eager_s", 1e3, "ms"),
    ("eager_jobs", "eager_jobs", 1, "count"), ("plan_ms", "plan_s", 1e3, "ms"),
    ("execute_ms", "execute_s", 1e3, "ms"), ("jobs", "jobs", 1, "count"),
    ("tasks", "tasks", 1, "count"), ("rows_to_driver", "rows_to_driver", 1, "count"),
)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    """Every live descendant of `pid`."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    out, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of the Python driver plus its JVM child,
    sampled from /proc at a low rate on one thread."""

    def __init__(self, interval_s: float = 0.2):
        super().__init__(name="rss-sampler", daemon=True)
        self.interval_s = interval_s
        self.pids: tuple[int, ...] = (os.getpid(),)
        self.peak_kb = 0
        self.samples = 0
        self._halt = threading.Event()

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))
        self.samples += 1

    def run(self) -> None:
        while not self._halt.wait(self.interval_s):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join(timeout=10)
        self.sample()


class Context:
    """Run-scoped state handed to a workload."""

    def __init__(self, args):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = os.path.join(RUN_ROOT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
        self.data_dir = os.path.join(self.run_dir, "data")
        self.derived_root = os.path.join(ROOT, "spark-warehouse", "derived")
        self.bench_s = 0.0  # input generation, not counted as set-up
        self.session_s = 0.0
        self.spark = None
        self.rec: Recorder | None = None
        self.sampler = RssSampler()
        for sub in ("data", "tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(self.run_dir, sub), exist_ok=True)
        tmp = os.path.join(self.run_dir, "tmp")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.run_dir, "spark-local")
        os.environ["SPARK_DRIVER_MEM"] = "2g"
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        self.sampler.start()

    def start_session(self):
        from pyspark import SparkContext

        from homemade_vector_db_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}", cpus=cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sampler.pids = (os.getpid(), SparkContext._gateway.proc.pid)
        self.session_s = time.perf_counter() - T0 - self.bench_s
        self.mark("session")
        if self.trace:
            import importlib
            import pkgutil

            import homemade_vector_db_spark.operators as ops

            for m in pkgutil.iter_modules(ops.__path__):
                importlib.import_module(f"{ops.__name__}.{m.name}")
            importlib.import_module("homemade_vector_db_spark.streaming.dedup")
            importlib.import_module("homemade_vector_db_spark.sources.tables")
            self.rec = Recorder(self.spark)
            self.rec.install()
        return self.spark

    def mark(self, label: str) -> None:
        """Phase timestamp on stderr, for reading where a run's time goes."""
        print(f"[perfbench] {time.perf_counter() - T0:7.2f}s {label}",
              file=sys.stderr, flush=True)

    def op(self, kind: str):
        return self.rec.op(kind) if self.rec is not None else contextlib.nullcontext()

    def close(self) -> None:
        """Stop Spark and the JVM, wait for every process the run started,
        and remove the run's files and derived state."""
        if self.rec is not None:
            self.rec.uninstall()
        fixture = None
        tokenvec = sys.modules.get("homemade_vector_db_spark.sources.tokenvec")
        if tokenvec is not None:
            fixture = tokenvec.token_fixture_path(self.data_dir)
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gateway = SparkContext._gateway
            if gateway is not None:
                proc = gateway.proc
                kids = _children(proc.pid)
                gateway.shutdown()
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
                deadline = time.time() + 30
                while kids and time.time() < deadline:
                    kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
                    time.sleep(0.1)
        self.sampler.stop()
        tag = hashlib.md5(os.path.abspath(self.data_dir).encode()).hexdigest()[:12]
        for d in glob.glob(os.path.join(self.derived_root, f"*_{tag}_*")):
            shutil.rmtree(d, ignore_errors=True)
        if fixture and os.path.isfile(fixture):
            os.remove(fixture)
        shutil.rmtree(self.run_dir, ignore_errors=True)
        for d in (self.derived_root, os.path.dirname(self.derived_root),
                  os.path.join(ROOT, "fixtures"), RUN_ROOT):
            with contextlib.suppress(OSError):
                os.rmdir(d)  # only when empty


def end_to_end(ctx: Context, out: workloads.Outcome) -> dict:
    """The gated metrics: name -> (value, samples). Composites of per-kind
    medians, which stay steadier across runs than pooled percentiles of
    query types whose costs differ by 5x."""
    lat = out.lat
    return {
        "setup_s": (out.setup_s, 1),
        "query_ms": (np.mean([median(lat[k]) for k in out.query_kinds]) * 1e3,
                     sum(len(lat[k]) for k in out.query_kinds)),
        "round_s": (sum(n * median(lat[k]) for k, n in out.round_kinds.items()),
                    sum(len(lat[k]) for k in out.round_kinds)),
    }


def report(ctx: Context, out: workloads.Outcome) -> list[tuple[str, float, str, int]]:
    """Everything else the run measured: pooled percentiles, per-kind
    medians, memory and the workload's own counters."""
    pooled = [x for k in out.query_kinds for x in out.lat[k]]  # pooled over kinds
    rows = [
        ("query_p50_ms", float(np.percentile(pooled, 50)) * 1e3, "ms", len(pooled)),
        ("query_p90_ms", float(np.percentile(pooled, 90)) * 1e3, "ms", len(pooled)),
        ("peak_rss_mb", ctx.sampler.peak_kb / 1024.0, "MB", ctx.sampler.samples),
    ]
    for kind in ("text", "vector", "filtered", "hybrid", "metadata", "add", "gate"):
        xs = out.lat.get(kind)
        if xs:
            rows.append((f"{kind}_p50_ms", median(xs) * 1e3, "ms", len(xs)))
    if out.lat.get("persist"):
        rows.append(("persist_s", out.lat["persist"][0], "s", 1))
    rows += [(k, v, u, n) for k, (v, u, n) in out.report.items()]
    rows.append(("failed_frac", len(out.failures) / max(out.attempted, 1), "frac",
                 out.attempted))
    return rows


def per_layer(ctx: Context, out: workloads.Outcome) -> dict[str, tuple[float, str]]:
    rec = ctx.rec
    rec.resolve()
    by_kind: dict[str, list[dict]] = {}
    split: dict[int, dict] = {}
    for op in rec.ops:
        split[op.sid] = rec.op_breakdown(op)
        by_kind.setdefault(op.name, []).append(split[op.sid])
    m: dict[str, tuple[float, str]] = {}
    for kind in OPS:
        rows = by_kind.get(kind, [])
        for name, field, scale, unit in OP_FIELDS:
            m[f"{kind}.{name}"] = (median(r[field] for r in rows) * scale, unit)
    entry_ops = [op for op in rec.ops if op.name.startswith("entry:")]
    for name in workloads.ENTRIES:
        rows = by_kind.get(f"entry:{name}", [])
        m[f"{name}.build_s"] = (median(r["dur_s"] - r["plan_s"] - r["execute_s"]
                                       for r in rows), "s")
        m[f"{name}.eager_jobs"] = (median(r["eager_jobs"] for r in rows), "count")
        m[f"{name}.execute_s"] = (median(r["execute_s"] for r in rows), "s")
    n = len(workloads.ENTRIES)
    passes = [entry_ops[i:i + n] for i in range(0, len(entry_ops), n)]
    for metric, field, unit in (("pass.plan_s", "plan_s", "s"),
                                ("pass.exchanges", "exchanges", "count"),
                                ("pass.tasks", "tasks", "count")):
        m[metric] = (median(sum(split[o.sid][field] for o in p) for p in passes), unit)
    vec_ops = out.vector_ops or [[]]
    m["vector.plan_nodes_first"] = (median(split[s]["plan_nodes"] for s in vec_ops[0]), "count")
    m["vector.plan_nodes"] = (median(split[s]["plan_nodes"] for s in vec_ops[-1]), "count")
    m["gate.state_read_ms"] = (median(r["read_s"] for r in by_kind.get("gate", [])) * 1e3, "ms")
    m["gate.state_dirs"] = (out.report.get("gate.state_dirs", (0.0,))[0], "count")
    m["pass.derived_builds"] = (out.report.get("pass.derived_builds", (0.0,))[0], "count")
    m["trace.overhead_frac"] = (out.overhead_frac, "frac")
    trace_dir = os.path.join(RUN_ROOT, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    rec.dump(os.path.join(trace_dir, f"{ctx.workload}-s{ctx.seed}.jsonl"))
    return m


def report_lines(ctx: Context, out: workloads.Outcome, e2e: dict) -> list[str]:
    lines = [f"# workload={ctx.workload} seed={ctx.seed} seconds={ctx.seconds} "
             f"trace={int(ctx.trace)} cpus={len(os.sched_getaffinity(0))}"]
    rows = [(k, v, END_TO_END[k], n) for k, (v, n) in e2e.items()]
    rows += report(ctx, out)
    lines += [f"# {k} = {v:.6g} {u} (n={n})" for k, v, u, n in rows]
    lines += [f"# FAIL {f}" for f in out.failures[:20]]
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    ctx = Context(args)
    try:
        out = WORKLOADS[args.workload](ctx)
        ctx.mark("checked")
        layer = per_layer(ctx, out) if ctx.trace else None
    finally:
        ctx.close()
        ctx.mark("closed")
    e2e = end_to_end(ctx, out)
    if layer is None:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    print("\n".join(report_lines(ctx, out, e2e)))
    if layer is not None:
        print("\n".join(f"# {k} = {v:.6g} {u}" for k, (v, u) in layer.items()))
    print(json.dumps({
        "correct": not out.failures,
        "attempted": out.attempted,
        "failed": len(out.failures),
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
