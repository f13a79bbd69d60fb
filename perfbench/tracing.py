"""Traced mode: spans around calls into the engine's layers, and per-query
counters read back from Spark's own status stores.

Spans are recorded from outside the program: `Tracer.install` replaces
each traced public function on its module (or class) with a wrapper and
`Tracer.uninstall` puts the originals back. The engine imports these
functions at call time (`from ..operators.knn_join import knn_join`
inside the planner), so the wrappers see every call.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import os
import time

from stats import parse_metric

# (module, attribute or Class.method, span name)
TRACED = [
    ("sedona_db_spark.context", "connect", "context.connect"),
    ("sedona_db_spark.context", "SedonaContext.sql", "context.sql"),
    ("sedona_db_spark.functions.st", "register_all", "st.register_all"),
    ("sedona_db_spark.plans.sql_planner", "plan_spatial_sql", "sql_planner.plan_spatial_sql"),
    ("sedona_db_spark.operators.spatial_join", "spatial_join", "spatial_join.spatial_join"),
    ("sedona_db_spark.operators.knn_join", "knn_join", "knn_join.knn_join"),
    ("sedona_db_spark.sources.geoparquet", "read_geoparquet", "geoparquet.read_geoparquet"),
    ("sedona_db_spark.sources.geoparquet", "write_geoparquet", "geoparquet.write_geoparquet"),
]

# the spatial join's refine UDF, found by name in its Python plan node
REFINE_MARKER = "refine("

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
                "AggregateInPandas", "WindowInPandas")


class Span:
    __slots__ = ("name", "start", "end", "parent", "query", "jobs0", "jobs1")

    def __init__(self, name, start, parent, query, jobs0):
        self.name, self.start, self.parent, self.query = name, start, parent, query
        self.jobs0 = jobs0
        self.end = None
        self.jobs1 = None

    def as_dict(self):
        return {"name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent, "query": self.query,
                "jobs": [self.jobs0, self.jobs1]}


class Tracer:
    """In-memory span recorder. `query` is the id stamped on new spans."""

    def __init__(self):
        self.spans = []
        self.stack = []
        self.query = None
        self.broadcast_bytes = {}
        self._originals = []
        self._sc = None

    # -- job ids -----------------------------------------------------------
    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def next_job_id(self) -> int:
        """Id the next Spark job will get (one py4j call)."""
        if self._sc is None or self._sc._jsc is None:
            return -1
        return int(self._sc._jsc.sc().dagScheduler().nextJobId())

    # -- spans -------------------------------------------------------------
    def open(self, name: str) -> int:
        parent = self.stack[-1] if self.stack else None
        self.spans.append(Span(name, time.perf_counter(), parent, self.query,
                               self.next_job_id()))
        self.stack.append(len(self.spans) - 1)
        return self.stack[-1]

    def close(self, idx: int) -> None:
        s = self.spans[idx]
        s.jobs1 = self.next_job_id()
        s.end = time.perf_counter()
        self.stack.pop()

    @contextlib.contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield
        finally:
            self.close(idx)

    def _wrap(self, fn, name):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return wrapper

    def install(self) -> None:
        for modname, attr, name in TRACED:
            owner = importlib.import_module(modname)
            if "." in attr:
                cls, attr = attr.split(".")
                owner = getattr(owner, cls)
            orig = owner.__dict__[attr]
            self._originals.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(orig, name))
        # Python-side broadcasts (the spatial join's polygon map) are not
        # plan nodes; record their pickled size per query
        from pyspark import SparkContext

        orig_bc = SparkContext.broadcast
        self._originals.append((SparkContext, "broadcast", orig_bc))
        tracer = self

        @functools.wraps(orig_bc)
        def broadcast(sc, value):
            b = orig_bc(sc, value)
            path = getattr(b, "_path", None)
            if path and os.path.exists(path):
                q = tracer.query
                tracer.broadcast_bytes[q] = tracer.broadcast_bytes.get(q, 0) + os.path.getsize(path)
            return b

        SparkContext.broadcast = broadcast

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._originals):
            setattr(owner, attr, orig)
        self._originals.clear()

    # -- span arithmetic ---------------------------------------------------
    def self_time(self, idx: int) -> float:
        """Span duration minus its direct children's (calls are sequential,
        so children never overlap)."""
        s = self.spans[idx]
        kids = sum(c.end - c.start for c in self.spans if c.parent == idx)
        return (s.end - s.start) - kids

    def by_query(self, query, name: str):
        return [i for i, s in enumerate(self.spans)
                if s.query == query and s.name == name]

    def dump(self) -> list:
        return [s.as_dict() for s in self.spans]


# -- status-store counters ---------------------------------------------------

def _seq(jvm, scala_seq) -> list:
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


def job_counters(spark, job_ids) -> dict:
    """Stage totals over `job_ids` from the SparkContext status store.
    A stage shared by several jobs (skipped re-use) is counted once."""
    jvm = spark.sparkContext._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    seen = set()
    out = {"jobs": 0, "tasks": 0, "executor_run_s": 0.0, "executor_cpu_s": 0.0,
           "shuffle_write_bytes": 0, "gc_s": 0.0}
    for jid in job_ids:
        try:
            job = store.job(jid)
        except Exception:  # py4j error: job not (or no longer) in the store
            continue
        out["jobs"] += 1
        for sid in _seq(jvm, job.stageIds()):
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage never ran (skipped before submission)
                continue
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["gc_s"] += st.jvmGcTime() / 1e3
    return out


def sql_executions(spark) -> list:
    """[(execution id, set of job ids)] from the SQL status store."""
    jvm = spark.sparkContext._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    out = []
    for e in _seq(jvm, store.executionsList()):
        jobs = {int(j) for j in conv.asJava(e.jobs().keySet())}
        out.append((int(e.executionId()), jobs))
    return out


def plan_counters(spark, execution_id: int) -> dict:
    """Python-boundary and file-scan counters of one SQL execution's plan."""
    jvm = spark.sparkContext._jvm
    store = spark._jsparkSession.sharedState().statusStore()
    values = dict(jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        store.executionMetrics(execution_id)))
    values = {int(k): v for k, v in values.items()}
    out = {"python_busy_s": 0.0, "python_start_s": 0.0, "bytes_to_python": 0.0,
           "bytes_from_python": 0.0, "rows_to_python": 0.0,
           "refine_nodes": 0, "refine_rows": 0.0,
           "broadcast_bytes": 0.0, "scan_files_read": 0.0, "scan_rows": 0.0}
    graph = store.planGraph(execution_id)
    for node in _seq(jvm, graph.allNodes()):
        name = node.name()
        m = {mm.name(): parse_metric(values.get(int(mm.accumulatorId())))
             for mm in _seq(jvm, node.metrics())}
        if name in PYTHON_NODES:
            out["python_busy_s"] += m.get("time to run Python workers", 0.0)
            out["python_start_s"] += (m.get("time to start Python workers", 0.0)
                                      + m.get("time to initialize Python workers", 0.0))
            out["bytes_to_python"] += m.get("data sent to Python workers", 0.0)
            out["bytes_from_python"] += m.get("data returned from Python workers", 0.0)
            rows = m.get("number of output rows", 0.0)
            out["rows_to_python"] += rows
            if REFINE_MARKER in node.desc():
                out["refine_nodes"] += 1
                out["refine_rows"] += rows
        elif name == "BroadcastExchange":
            out["broadcast_bytes"] += m.get("data size", 0.0)
        elif name.startswith("Scan"):
            out["scan_files_read"] += m.get("number of files read", 0.0)
            out["scan_rows"] += m.get("number of output rows", 0.0)
    return out
