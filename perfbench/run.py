"""Spatial-query benchmark: one closed-loop client driving the engine
through its public entry points (`connect`, `SedonaContext.read_parquet`,
`to_parquet`, `sql`), every result checked against the benchmark's own
oracle.

    python3 perfbench/run.py --workload pip_join --seed 1 --seconds 10 --trace 0

Run from the repository root. Workloads: pip_join, knn_join, window_scan
(see perfbench/README.md). `--trace 0` prints the end-to-end metrics,
`--trace 1` the per-layer metrics of a traced run, and writes its spans
and counters to `.perfbench/traces/`. The last line of stdout is one JSON
object {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import threading
import time
from contextlib import nullcontext

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")  # inputs, Spark scratch, traces

import gen  # noqa: E402  (perfbench/ is on sys.path as the script's dir)
import oracle  # noqa: E402
import stats  # noqa: E402

KNN_SAMPLE = 8  # probes whose distances are checked per kNN result

END_TO_END = [("setup_s", "s"), ("query_p50_s", "s"), ("query_tail_s", "s"),
              ("rows_per_s", "rows/s"), ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("context.connect_s", "s"), ("context.sql_s", "s"), ("query.action_s", "s"),
    ("sql_planner.self_s", "s"),
    ("spatial_join.call_s", "s"), ("spatial_join.driver_jobs", "count"),
    ("spatial_join.candidates_per_result", "ratio"),
    ("knn_join.call_s", "s"), ("knn_join.driver_jobs", "count"),
    ("udf.python_busy_s", "s"), ("udf.python_start_s", "s"),
    ("udf.bytes_to_python", "B"), ("udf.bytes_from_python", "B"),
    ("udf.rows_to_python_per_input_row", "ratio"),
    ("geoparquet.write_s", "s"), ("geoparquet.bytes_written_per_input_byte", "ratio"),
    ("geoparquet.files_read_frac", "ratio"),
    ("geoparquet.rows_scanned_per_row_returned", "ratio"),
    ("spark.jobs", "count"), ("spark.tasks", "count"),
    ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
    ("spark.shuffle_write_bytes", "B"), ("spark.broadcast_bytes", "B"),
    ("spark.gc_s", "s"),
    ("failed_frac", "ratio"),
    ("traced.setup_s", "s"), ("traced.query_p50_s", "s"), ("traced.rows_per_s", "rows/s"),
]


def task_slots() -> int:
    """Spark task threads: half the CPUs the process may use. A task that
    calls a pandas UDF keeps a JVM thread and a Python worker busy, so one
    slot per CPU runs about twice as many threads as there are CPUs, and
    the timings then measure the scheduler more than the engine."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def session_settings() -> dict:
    """Every Spark setting the benchmark pins; printed with the results."""
    n = task_slots()
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.master": f"local[{n}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(n),
        "spark.default.parallelism": str(n),
        "spark.driver.memory": "2g",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.python.worker.reuse": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "20000",
        "spark.ui.retainedStages": "20000",
        "spark.sql.ui.retainedExecutions": "5000",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # C1 only: every query compiles fresh generated classes, and C2
        # recompiling them keeps a tiered JIT busy for minutes, so latency
        # drifts down through a run, faster or slower with the host's load.
        # Fixed heap and young-generation sizes: G1 resizes both after slow
        # collections, so otherwise the peak RSS follows the host's load too.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData "
            "-XX:TieredStopAtLevel=1 -Xms2g -Xmn512m"),
    }


# -- workloads ----------------------------------------------------------------

class Workload:
    """Loads a workload's generated files into a context, names the query
    stream and checks each result. `input_rows` is the size of the probed
    or scanned table."""

    name = ""
    geoparquet_dir = None
    nominal_query_s = 1.0  # typical query wall time on a calm 4-CPU host

    def timed_queries(self, seconds: float) -> int:
        """Queries a run times: about `seconds` of them, and at least 3 so
        the median is a middle sample."""
        return max(3, round(seconds / self.nominal_query_s))

    def __init__(self, inputs: gen.Inputs):
        self.inputs = inputs
        self.a = inputs.arrays

    def load(self, ctx) -> None:
        raise NotImplementedError

    def query(self, i: int) -> str:
        raise NotImplementedError

    def check(self, i: int, rows) -> bool:
        raise NotImplementedError

    def pairs(self, rows) -> int:
        """Joined pairs (or rows inside the window) behind a result."""
        return sum(int(r[1]) for r in rows)


class PipJoin(Workload):
    name = "pip_join"
    nominal_query_s = 3.3
    SQL = ("SELECT r.rid, count(*) FROM pts p JOIN regions r "
           "ON ST_Intersects(r.geom, p.geom) GROUP BY r.rid")

    def __init__(self, inputs):
        super().__init__(inputs)
        self.want = oracle.pip_counts(self.a["x"], self.a["y"], self.a["rings"])
        self.input_rows = len(self.a["x"])

    def load(self, ctx):
        f = self.inputs.files
        ctx.to_view(ctx.read_parquet(f["pts"]), "pts", overwrite=True)
        ctx.to_view(ctx.read_parquet(f["regions"]), "regions", overwrite=True)

    def query(self, i):
        return self.SQL

    def check(self, i, rows):
        return {int(r[0]): int(r[1]) for r in rows} == self.want and len(rows) == len(self.want)


class KnnJoin(Workload):
    name = "knn_join"
    nominal_query_s = 3.2
    SQL = "SELECT p.pid, b.bid FROM pts p JOIN pois b ON ST_KNN(p.geom, b.geom, {k})"

    def __init__(self, inputs, seed):
        super().__init__(inputs)
        self.k = gen.SIZES["knn_join"]["k"]
        self.input_rows = len(self.a["px"])
        self.seed = seed

    def load(self, ctx):
        f = self.inputs.files
        ctx.to_view(ctx.read_parquet(f["pts"]), "pts", overwrite=True)
        ctx.to_view(ctx.read_parquet(f["pois"]), "pois", overwrite=True)

    def query(self, i):
        return self.SQL.format(k=self.k)

    def check(self, i, rows):
        a = self.a
        sample = np.random.default_rng([self.seed, i]).choice(
            self.input_rows, KNN_SAMPLE, replace=False)
        return oracle.knn_check(rows, a["px"], a["py"], a["bx"], a["by"], self.k, sample) == 0

    def pairs(self, rows):
        return len(rows)


class WindowScan(Workload):
    name = "window_scan"
    nominal_query_s = 1.85
    SQL = ("SELECT lang, count(*), avg(ST_X(geometry)) FROM pages "
           "WHERE ST_Intersects(geometry, ST_MakeEnvelope({}, {}, {}, {})) GROUP BY lang")

    def __init__(self, inputs):
        super().__init__(inputs)
        self.input_rows = len(self.a["x"])
        self.geoparquet_dir = os.path.join(inputs.root, "pages_geoparquet")

    def load(self, ctx):
        raw = ctx.read_parquet(self.inputs.files["pages"])
        ctx.to_parquet(raw, self.geoparquet_dir)
        ctx.to_view(ctx.read_parquet(self.geoparquet_dir), "pages", overwrite=True)

    def window(self, i):
        w = self.a["windows"]
        return w[i % len(w)]

    def query(self, i):
        return self.SQL.format(*(repr(float(v)) for v in self.window(i)))

    def check(self, i, rows):
        a = self.a
        return oracle.window_check(rows, oracle.window_groups(a["x"], a["y"], a["lang"],
                                                              self.window(i)))


def make_workload(name: str, inputs: gen.Inputs, seed: int) -> Workload:
    if name == "pip_join":
        return PipJoin(inputs)
    if name == "knn_join":
        return KnnJoin(inputs, seed)
    return WindowScan(inputs)


# -- process-tree memory ----------------------------------------------------------

def tree_rss_bytes(root_pid: int) -> int:
    """Summed resident set size of `root_pid` and all its descendants."""
    children, rss = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # process ended while listing
        pid = int(d)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, ()))
    return total


class RssSampler(threading.Thread):
    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self):
        pid = os.getpid()
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop_evt.wait(self.interval)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join(timeout=10)
        return self.peak


# -- session lifecycle --------------------------------------------------------------

def start_session():
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in session_settings().items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # subprocess.TimeoutExpired
            proc.kill()
            proc.wait(timeout=30)


# -- the run ------------------------------------------------------------------

def run(args) -> dict:
    import sedona_db_spark.context as context

    from tracing import Tracer

    t0 = time.perf_counter()
    inputs = gen.make_inputs(os.path.join(WORK, "inputs"), args.workload, args.seed)
    gen_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl = make_workload(args.workload, inputs, args.seed)
    oracle_s = time.perf_counter() - t0

    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()

    if tracer:
        tracer.query = "setup"
    t0 = time.perf_counter()
    spark = start_session()
    if tracer:
        tracer.bind(spark)
    ctx = context.connect(spark)
    wl.load(ctx)
    ctx.sql(wl.query(-1)).collect()  # the set-up's warm-up query
    setup_s = time.perf_counter() - t0

    # one more untimed query, so the timed ones start past the steep part
    # of the warm-up curve (Python workers, JIT); not part of setup_s
    if tracer:
        tracer.query = "warmup"
    t0 = time.perf_counter()
    ctx.sql(wl.query(-2)).collect()
    warmup_s = time.perf_counter() - t0

    # -- timed phase: one client, closed loop ---------------------------------
    sampler = RssSampler()
    sampler.start()
    lat, failed, raised, pairs, queries = [], 0, 0, [], []
    # a fixed number of queries per run, so every run of a workload takes
    # the same samples; on a calm host the timed phase lasts about --seconds,
    # or 3 queries if they take longer
    for i in range(wl.timed_queries(args.seconds)):
        qid = f"q{i}"
        if tracer:
            tracer.query = qid
        with tracer.span("query") if tracer else nullcontext():
            t0 = time.perf_counter()
            try:
                df = ctx.sql(wl.query(i))
                with tracer.span("query.action") if tracer else nullcontext():
                    rows = df.collect()
            except Exception as e:  # a query that raises counts as failed
                print(f"query {i} raised {type(e).__name__}: {e}", file=sys.stderr)
                rows = None
                raised += 1
            lat.append(time.perf_counter() - t0)
        if rows is not None and not wl.check(i, rows):
            failed += 1
            print(f"query {i}: result differs from the oracle", file=sys.stderr)
        pairs.append(wl.pairs(rows) if rows is not None else 0)
        queries.append(qid)
    peak = sampler.stop()

    attempted = len(lat)
    bad = failed + raised
    timed_s = sum(lat)
    tl = stats.tail(lat)
    e2e = {
        "setup_s": setup_s,
        "query_p50_s": statistics.median(lat),
        "query_tail_s": tl["value"],
        "rows_per_s": wl.input_rows * attempted / timed_s,
        "peak_rss_mb": peak / 1e6,
    }
    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "input_rows": wl.input_rows, "queries": attempted,
        "failed_frac": bad / attempted, "raised": raised, "mismatched": failed,
        "tail_percentile": tl["percentile"], "tail_samples": tl["samples"],
        "tail_beyond": tl["beyond"], "latencies_s": lat,
        "warmup_s": warmup_s,
        "generation_s": gen_s, "inputs_generated": inputs.generated,
        "oracle_s": oracle_s, "settings": session_settings(),
    }
    result = {"e2e": e2e, "info": info, "attempted": attempted, "failed": bad}
    if tracer:
        tracer.uninstall()
        result["layers"] = layer_metrics(spark, tracer, wl, queries, pairs, e2e, info)
    spark.stop()
    return result


def layer_metrics(spark, tracer, wl, queries, pairs, e2e, info) -> dict:
    """Per-layer metrics of a traced run, averaged per timed query, and the
    trace file written once at the end."""
    from tracing import REFINE_MARKER, job_counters, plan_counters, sql_executions

    n = len(queries)
    execs = sql_executions(spark)

    def spent(q, name):
        return sum(tracer.spans[j].end - tracer.spans[j].start
                   for j in tracer.by_query(q, name))

    def per_query(name):
        return statistics.mean(spent(q, name) for q in queries)

    def jobs_in(q, name):
        return sum(tracer.spans[j].jobs1 - tracer.spans[j].jobs0
                   for j in tracer.by_query(q, name))

    counters = []
    for q in queries:
        (root,) = tracer.by_query(q, "query")
        s = tracer.spans[root]
        jobs = set(range(s.jobs0, s.jobs1))
        c = job_counters(spark, sorted(jobs))
        for eid, ejobs in execs:
            if ejobs & jobs:
                for k, v in plan_counters(spark, eid).items():
                    c[k] = c.get(k, 0.0) + v
        c["broadcast_bytes"] = c.get("broadcast_bytes", 0.0) + tracer.broadcast_bytes.get(q, 0)
        counters.append(c)

    def mean(key):
        return sum(c.get(key, 0.0) for c in counters) / n

    planner_self = [sum(tracer.self_time(j) for j in tracer.by_query(q, "sql_planner.plan_spatial_sql"))
                    for q in queries]
    # only window_scan has a GeoParquet dataset, and its timed queries scan
    # nothing else
    gp = {"write_s": 0.0, "bytes_ratio": 0.0, "files_frac": 0.0, "rows_ratio": 0.0}
    if wl.geoparquet_dir:
        def dir_bytes(d):
            return [os.path.getsize(os.path.join(d, f)) for f in os.listdir(d)
                    if f.endswith(".parquet")]

        written = dir_bytes(wl.geoparquet_dir)
        gp["write_s"] = spent("setup", "geoparquet.write_geoparquet")
        gp["bytes_ratio"] = sum(written) / sum(dir_bytes(wl.inputs.files["pages"]))
        gp["files_frac"] = mean("scan_files_read") / len(written)
        gp["rows_ratio"] = sum(c.get("scan_rows", 0.0) for c in counters) / max(sum(pairs), 1)

    # a spatial join whose refine node is not found would read as zero
    # candidates, a perfect score; stop instead of reporting it
    unmatched = [q for q, c in zip(queries, counters)
                 if tracer.by_query(q, "spatial_join.spatial_join") and not c.get("refine_nodes")]
    if unmatched:
        raise RuntimeError(
            f"queries {unmatched} ran spatial_join but no plan node matched the refine "
            f"UDF marker {REFINE_MARKER!r}; update tracing.REFINE_MARKER")
    refine = sum(c.get("refine_rows", 0.0) for c in counters)
    layers = {
        "context.connect_s": spent("setup", "context.connect"),
        "context.sql_s": per_query("context.sql"),
        "query.action_s": per_query("query.action"),
        "sql_planner.self_s": statistics.mean(planner_self),
        "spatial_join.call_s": per_query("spatial_join.spatial_join"),
        "spatial_join.driver_jobs": statistics.mean(jobs_in(q, "spatial_join.spatial_join") for q in queries),
        "spatial_join.candidates_per_result": refine / sum(pairs) if sum(pairs) else 0.0,
        "knn_join.call_s": per_query("knn_join.knn_join"),
        "knn_join.driver_jobs": statistics.mean(jobs_in(q, "knn_join.knn_join") for q in queries),
        "udf.python_busy_s": mean("python_busy_s"),
        "udf.python_start_s": mean("python_start_s"),
        "udf.bytes_to_python": mean("bytes_to_python"),
        "udf.bytes_from_python": mean("bytes_from_python"),
        "udf.rows_to_python_per_input_row": mean("rows_to_python") / wl.input_rows,
        "geoparquet.write_s": gp["write_s"],
        "geoparquet.bytes_written_per_input_byte": gp["bytes_ratio"],
        "geoparquet.files_read_frac": gp["files_frac"],
        "geoparquet.rows_scanned_per_row_returned": gp["rows_ratio"],
        "spark.jobs": mean("jobs"),
        "spark.tasks": mean("tasks"),
        "spark.executor_run_s": mean("executor_run_s"),
        "spark.executor_cpu_s": mean("executor_cpu_s"),
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "spark.broadcast_bytes": mean("broadcast_bytes"),
        "spark.gc_s": mean("gc_s"),
        "failed_frac": info["failed_frac"],
        "traced.setup_s": e2e["setup_s"],
        "traced.query_p50_s": e2e["query_p50_s"],
        "traced.rows_per_s": e2e["rows_per_s"],
    }
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{wl.name}-s{info['seed']}.json")
    with open(path, "w") as fh:
        json.dump({"info": info, "end_to_end": e2e, "layers": layers,
                   "queries": dict(zip(queries, counters)), "spans": tracer.dump()},
                  fh, indent=1, default=float)
    info["trace_file"] = os.path.relpath(path, ROOT)
    return layers


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sedona_db_spark")):
        print(f"no sedona_db_spark package under {ROOT}: run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    # the engine is imported by the driver here and by Spark's Python
    # workers, which inherit PYTHONPATH; scratch files stay in the checkout
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    # also reaches the launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    try:
        res = run(args)
    finally:
        shutdown_jvm()

    info = res["info"]
    print(f"workload {info['workload']} seed {info['seed']}: {info['queries']} queries "
          f"in {info['seconds']} s over {info['input_rows']} input rows, one closed-loop client")
    print(f"  the untimed warm-up query after set-up took {info['warmup_s']:.3f} s")
    print(f"  generation_s {info['generation_s']:.3f} (cached: {not info['inputs_generated']}); "
          f"oracle_s {info['oracle_s']:.3f}")
    print(f"  failed_frac {info['failed_frac']:.4f} ({info['raised']} raised, "
          f"{info['mismatched']} differ from the oracle)")
    print(f"  query_tail_s is p{info['tail_percentile']:.1f} of {info['tail_samples']} "
          f"samples, {info['tail_beyond']} beyond it")
    print(f"  latencies_s {[round(x, 3) for x in info['latencies_s']]}")
    print(f"  settings {json.dumps(info['settings'], sort_keys=True)}")
    names = PER_LAYER if args.trace else END_TO_END
    values = res["layers"] if args.trace else res["e2e"]
    if args.trace:
        print(f"  trace written to {info['trace_file']}")
    for name, unit in names:
        print(f"  {name} = {values[name]:.6g} {unit}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
