"""Span recorder for traced benchmark runs.

Wraps, from outside the program, the public functions at each layer
boundary: the `VectorDatabase` facade methods, the public functions of
every `operators.*` module, `IncrementalNearDup.ingest_batch`, the
registry callables, and the pyspark calls that cross into the JVM
(DataFrame actions, `DataFrameWriter.parquet`, `DataFrameReader.parquet`,
`createDataFrame`). Each span keeps its name, start, end, parent and op
id in memory; every op and every Spark call inside an op runs under its
own job group, resolved through `statusTracker` after the run.

Nothing is patched unless a `Recorder` is installed, and an installed
recorder passes calls straight through while `active` is false, so
traced and untraced segments can alternate inside one run.
"""

from __future__ import annotations

import functools
import inspect
import json
import re
import statistics
import sys
import time
from contextlib import contextmanager

LAYER_PREFIXES = (
    "homemade_vector_db_spark.operators.",
    "homemade_vector_db_spark.streaming.dedup",
    "homemade_vector_db_spark.sources.tables",
)
FACADE_METHODS = (
    "add", "attach", "query_text", "query_vector", "query_metadata",
    "hybrid_search", "save", "load", "delete", "update", "merge",
)
# pyspark calls that cross into the JVM; "result" and "write" calls can
# be an op's final action, the rest are always eager
SPARK_CALLS = {
    "DataFrame": {
        "collect": "result", "toPandas": "result", "count": "result",
        "first": "result", "take": "result", "head": "result",
        "tail": "result", "localCheckpoint": "eager", "checkpoint": "eager",
    },
    "DataFrameWriter": {"parquet": "write", "save": "write"},
    "DataFrameReader": {"parquet": "read"},
    "SparkSession": {"createDataFrame": "create"},
}
_EXCHANGE = re.compile(r"^[\s:|+\-*]*(?:Reused|Broadcast|Shuffle)?Exchange\b", re.M)


class Span:
    __slots__ = ("sid", "name", "kind", "parent", "op", "t0", "t1", "group",
                 "plan_s", "plan_nodes", "exchanges", "rows", "jobs", "tasks")

    def __init__(self, sid, name, kind, parent, op, group=None):
        self.sid, self.name, self.kind = sid, name, kind
        self.parent, self.op, self.group = parent, op, group
        self.t0 = time.perf_counter()
        self.t1 = None
        self.plan_s = 0.0
        self.plan_nodes = 0
        self.exchanges = 0
        self.rows = 0
        self.jobs: list[int] = []
        self.tasks = 0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Recorder:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.active = False
        self.spans: list[Span] = []
        self.ops: list[Span] = []
        self._stack: list[Span] = []
        self._op: Span | None = None
        self._in_spark_call = False
        self._undo: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ patching
    def _set(self, owner, name, value) -> None:
        self._undo.append((owner, name, owner.__dict__[name]))
        setattr(owner, name, value)

    def wrap_registry(self, entries: dict) -> dict:
        """Registry callables wrapped as `queries.<name>` spans."""
        return {n: self._layer(fn, f"queries.{n}") for n, fn in entries.items()}

    def install(self) -> None:
        """Patch the layer boundaries of the loaded package and pyspark."""
        from homemade_vector_db_spark import db as dbmod
        from homemade_vector_db_spark.streaming import dedup as sdedup

        for name in FACADE_METHODS:
            attr = dbmod.VectorDatabase.__dict__[name]
            if isinstance(attr, classmethod):
                wrapped = classmethod(self._layer(attr.__func__, f"db.{name}"))
            else:
                wrapped = self._layer(attr, f"db.{name}")
            self._set(dbmod.VectorDatabase, name, wrapped)
        self._set(sdedup.IncrementalNearDup, "ingest_batch", self._layer(
            sdedup.IncrementalNearDup.ingest_batch,
            "streaming.dedup.IncrementalNearDup.ingest_batch"))

        originals: dict[int, object] = {}
        for mod in list(sys.modules.values()):
            mname = getattr(mod, "__name__", "")
            if not mname.startswith(LAYER_PREFIXES):
                continue
            for name, fn in list(vars(mod).items()):
                if (inspect.isfunction(fn) and not name.startswith("_")
                        and fn.__module__ == mname):
                    w = self._layer(fn, f"{mname.split('.', 1)[1]}.{name}")
                    originals[id(fn)] = w
                    self._set(mod, name, w)
        # names bound by `from module import fn` elsewhere in the package
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("homemade_vector_db_spark"):
                continue
            for name, fn in list(vars(mod).items()):
                w = originals.get(id(fn))
                if w is not None and fn is not w:
                    self._set(mod, name, w)

        probe = self.spark.range(1)
        owners = {
            "DataFrame": type(probe), "DataFrameWriter": type(probe.write),
            "DataFrameReader": type(self.spark.read),
            "SparkSession": type(self.spark),
        }
        for owner_name, calls in SPARK_CALLS.items():
            owner = owners[owner_name]
            for name, kind in calls.items():
                fn = getattr(owner, name)
                if name not in owner.__dict__:
                    # inherited: patch on the concrete class
                    self._undo.append((owner, name, None))
                    setattr(owner, name, self._spark_call(fn, name, kind))
                else:
                    self._set(owner, name, self._spark_call(fn, name, kind))

    def uninstall(self) -> None:
        while self._undo:
            owner, name, value = self._undo.pop()
            if value is None:
                delattr(owner, name)
            else:
                setattr(owner, name, value)

    # ------------------------------------------------------------- spans
    def _open(self, name, kind, group=None) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, kind, parent, self._op.sid, group)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.t1 = time.perf_counter()
        self._stack.pop()

    def _layer(self, fn, label):
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not rec.active or rec._op is None or rec._in_spark_call:
                return fn(*args, **kwargs)
            s = rec._open(label, "layer")
            try:
                return fn(*args, **kwargs)
            finally:
                rec._close(s)

        return wrapper

    def _spark_call(self, fn, name, kind):
        rec = self

        @functools.wraps(fn)
        def wrapper(obj, *args, **kwargs):
            if not rec.active or rec._op is None or rec._in_spark_call:
                return fn(obj, *args, **kwargs)
            rec._in_spark_call = True
            group = f"{rec._op.group}.{len(rec.spans)}"
            rec.sc.setJobGroup(group, name, False)
            s = rec._open(name, kind, group)
            try:
                qe = None
                if name in ("collect", "toPandas"):
                    qe = obj._jdf.queryExecution()
                    t = time.perf_counter()
                    qe.executedPlan()
                    s.plan_s = time.perf_counter() - t
                    s.plan_nodes = qe.analyzed().treeString().count("\n")
                out = fn(obj, *args, **kwargs)
                if qe is not None:
                    plan = qe.executedPlan()
                    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
                        plan = plan.executedPlan()
                    s.exchanges = len(_EXCHANGE.findall(plan.toString()))
                if kind == "result":
                    s.rows = (len(out) if hasattr(out, "__len__")
                              else int(out is not None))
                    if name == "count":
                        s.rows = 1
                return out
            finally:
                rec._close(s)
                rec.sc.setJobGroup(rec._op.group, rec._op.name, False)
                rec._in_spark_call = False

        return wrapper

    @contextmanager
    def op(self, kind: str):
        """One facade call, gate batch or registry entry. A no-op while
        the recorder is inactive."""
        if not self.active:
            yield None
            return
        s = Span(len(self.spans), kind, "op", None, None, f"pb-op{len(self.ops)}")
        s.op = s.sid
        self.spans.append(s)
        self.ops.append(s)
        self._op = s
        self.sc.setJobGroup(s.group, kind, False)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._op = None
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    # ----------------------------------------------------------- results
    def resolve(self) -> None:
        """Fill jobs and completed tasks per job group once the listener
        bus has drained."""
        time.sleep(1.0)
        tracker = self.sc.statusTracker()
        for s in self.spans:
            if s.group is None:
                continue
            s.jobs = sorted(int(j) for j in tracker.getJobIdsForGroup(s.group))
            for j in s.jobs:
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                for st in info.stageIds:
                    sinfo = tracker.getStageInfo(st)
                    if sinfo is not None:
                        s.tasks += sinfo.numCompletedTasks

    def op_breakdown(self, op: Span) -> dict:
        """Per-op layer split. Spark calls that are not nested in another
        Spark call are the op's boundary crossings; the last result or
        write call is the final action and every earlier one is eager."""
        inside = [s for s in self.spans if s.op == op.sid and s is not op]
        calls = [s for s in inside if s.kind != "layer"]
        finals = [s for s in calls if s.kind in ("result", "write")]
        final = finals[-1] if finals else None
        eager = [s for s in calls if s is not final]
        children: dict[int, float] = {}
        for s in inside:
            if s.parent is not None:
                children[s.parent] = children.get(s.parent, 0.0) + s.dur
        build = sum(s.dur - children.get(s.sid, 0.0)
                    for s in inside if s.kind == "layer")
        all_jobs = op.jobs + [j for s in calls for j in s.jobs]
        final_jobs = len(final.jobs) if final else 0
        return {
            "dur_s": op.dur,
            "build_s": build,
            "eager_s": sum(s.dur for s in eager),
            "eager_jobs": len(all_jobs) - final_jobs,
            "plan_s": final.plan_s if final else 0.0,
            "execute_s": (final.dur - final.plan_s) if final else 0.0,
            "jobs": len(all_jobs),
            "tasks": op.tasks + sum(s.tasks for s in calls),
            "rows_to_driver": sum(s.rows for s in calls),
            "plan_nodes": final.plan_nodes if final else 0,
            "exchanges": sum(s.exchanges for s in calls),
            "read_s": sum(s.dur for s in calls if s.kind == "read"),
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_dict()) + "\n")


def median(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default
