"""Benchmark of pydiverse_transform_spark through its public surface.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One closed-loop client in this process
sends the next request only after the previous result arrived.  Spark
runs as ``local[cores]``, ``cores`` being half the host's, with as many
shuffle partitions as cores.  The workloads are defined in
``perfbench/workloads.py``.

A run starts Spark and makes a cold and one or more warm untimed passes
over the workload's distinct requests (together: set-up), then times
full passes in a seed-permuted order.  Every distinct request's cold-pass result is
compared with its DuckDB ``oracle_sql()`` outside the timed region.
``pass_s`` is the wall time of a pass taken request by request: the sum,
over the workload's requests, of each one's median latency in the
untraced timed passes, so a slow spell of the host that falls on some
requests of some passes moves it less than a median of whole passes.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced passes and reports per-layer metrics, taken from
spans the benchmark records around calls into each layer and from
Spark's own counters, plus the tracing overhead.  The ``catalyst``
metrics time the planning of each exported Dataset just before its
action runs it.  A ``noop`` write plans a command of its own, so on
that sink planning is part of ``exec.s`` and ``catalyst`` reads 0.
Each run writes its record (and the spans) to ``perfbench/_out/``.  The last line of
standard output is one JSON object; the line before it is the run's
record: sample counts, drift, versions, load average, per-query times.
"""

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, "_out")
DRIVER_MEMORY = "2g"
# significant digits floats are compared to: summing in another order
# moves the last of the 17
FLOAT_DIGITS = 12

sys.path.insert(0, HERE)

import spark_counters as sc  # noqa: E402
import workloads  # noqa: E402


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def engine_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "pydiverse_transform_spark")))


def start_spark(cores: int, tmp: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.local.dir", tmp)
        # The whole heap is committed and touched at start, so the JVM's
        # peak resident set does not depend on how far the collector
        # chose to grow the heap in this run (it varied 1.6-2.3 GiB).
        # JIT compilation stops at C1: with C2, the compiler threads used
        # as much CPU as the task threads during the timed passes (11-14
        # against 10-12 s on 4 cores), passes were still speeding up
        # after warm-up and runs spread 4.7-7.0 s per pass; with C1 they
        # use about 2.5 s and pass times are flat from the first.
        # -XX:-UsePerfData: the JVM would write /tmp/hsperfdata_*
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} "
                "-XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1 "
                "-XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the SQL status store keeps the plain plan text plan_audit counts
        .config("spark.sql.ui.explainMode", "simple")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    # the next session starts a new gateway instead of the closed one
    from pyspark import SparkContext

    SparkContext._gateway = SparkContext._jvm = None


def nearest_rank(sorted_vals: list[float], pct: float) -> float:
    k = max(1, math.ceil(pct / 100.0 * len(sorted_vals)))
    return sorted_vals[k - 1]


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile above the median with at least ten
    samples beyond it; None when there are too few samples."""
    p = (100 * (n - 10)) // n if n > 10 else 0
    return p if p > 50 else None


class Bench:
    def __init__(self, spark, workload, data, seed, cores):
        import __spark_entry__ as entry
        import pydiverse_transform_spark as pdt

        self.spark = spark
        self.pdt = pdt
        self.entry = entry
        self.workload = workload
        self.data = data
        self.cores = cores
        self.rng = random.Random(seed)
        self.builders = entry.queries()
        self.targets = (pdt.Arrow, pdt.Pandas, pdt.ListOfRows)
        self.tracer = None
        self.failures: dict[str, str] = {}
        self.cold_s: dict[str, float] = {}

    # -- one request ------------------------------------------------------
    def request(self, name: str, target, rid: int | None = None):
        """Build and materialize one query; returns the exported result
        (None for the noop sink)."""
        tr = self.tracer
        if tr is None:
            return self._request(name, target, contextlib.nullcontext)
        with tr.span(f"request.{name}", request=rid):
            return self._request(name, target, tr.span)

    def _request(self, name: str, target, span):
        df = self.builders[name](self.spark, self.data)
        if self.workload.sink == "noop":
            # the write plans its own command, so on this sink Catalyst
            # optimization and planning are part of the action's span
            with span("exec.action"):
                df.write.format("noop").mode("overwrite").save()
            return None
        with span("dsl.wrap"):
            table = self.pdt.Table(df, name)
        return table >> self.pdt.export(target)

    # -- passes -----------------------------------------------------------
    def warm_up(self) -> dict:
        """Cold pass, then the workload's warm passes, in its order;
        returns each request's cold-pass result as pandas for the oracle
        (or the exception it raised)."""
        results = {}
        for name in self.workload.queries:
            t = time.perf_counter()
            try:
                df = self.builders[name](self.spark, self.data)
                results[name] = (self.pdt.Table(df, name)
                                 >> self.pdt.export(self.pdt.Pandas))
            except Exception as e:  # recorded, counted as failed
                results[name] = e
            self.cold_s[name] = time.perf_counter() - t
        # untimed passes through the timed code path: the first timed
        # pass would otherwise still be warming up
        for _ in range(self.workload.warm_passes):
            for i, name in enumerate(self.workload.queries):
                try:
                    self.request(name, self.targets[i % len(self.targets)])
                except Exception:
                    pass  # the oracle check and the timed passes report it
        return results

    def timed_pass(self, latencies: dict, done: list, failed: list,
                   rows: dict) -> float:
        """One pass over every request in a seed-permuted order; records
        each request's latency under its name and the names of requests
        that completed or raised."""
        order = self.rng.sample(self.workload.queries,
                                len(self.workload.queries))
        offset = self.rng.randrange(len(self.targets))
        t0 = time.perf_counter()
        for i, name in enumerate(order):
            target = self.targets[(i + offset) % len(self.targets)]
            t = time.perf_counter()
            try:
                out = self.request(name, target, rid=len(done) + len(failed))
            except Exception as e:
                failed.append(name)
                self.failures.setdefault(name, repr(e)[:300])
                continue
            latencies.setdefault(name, []).append(time.perf_counter() - t)
            done.append(name)
            if out is not None:
                rows.setdefault(name, set()).add(result_rows(out))
        return time.perf_counter() - t0


def pass_seconds(latencies: dict[str, list[float]]) -> float:
    """A pass's wall time taken request by request: the sum of each
    request's median latency."""
    return sum(statistics.median(v) for v in latencies.values())


def result_rows(out) -> int:
    return out.num_rows if hasattr(out, "num_rows") else len(out)


def round_floats(pdf, digits: int = FLOAT_DIGITS):
    """Float columns rounded to ``digits`` significant digits."""
    pdf = pdf.copy()
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].map(lambda v: float(f"{v:.{digits}g}"))
    return pdf


def digest(oracle_util, pdf) -> dict:
    """Row count, columns and a hash of the order-insensitive rows."""
    rows = oracle_util.normalize(round_floats(pdf))
    return {"rows": len(pdf), "columns": sorted(pdf.columns),
            "hash": hashlib.sha256("\n".join(rows).encode()).hexdigest()}


def oracle_digests(bench: Bench, names, oracle_util) -> dict[str, dict]:
    """DuckDB's answer to each query's ``oracle_sql()``, as a digest.
    Answers are cached per checkout, keyed by the SQL text and the data
    directory, so only the first run of a checkout pays for DuckDB."""
    sqls = bench.entry.oracle_sql()
    path = os.path.join(workloads.BUILD_DIR, "oracle_digests.json")
    try:
        with open(path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    keys = {n: hashlib.sha256(f"{bench.data}\0{sqls[n]}".encode()).hexdigest()
            for n in names}
    missing = [n for n in names if keys[n] not in cache]
    if missing:
        con = oracle_util.duckdb_con(bench.data)
        try:
            con.execute(f"SET threads={bench.cores}")
            for n in missing:
                cache[keys[n]] = digest(oracle_util,
                                        con.execute(sqls[n]).fetchdf())
        finally:
            con.close()
        os.makedirs(workloads.BUILD_DIR, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(cache, f)
        os.replace(path + ".tmp", path)
    return {n: cache[keys[n]] for n in names}


def oracle_check(bench: Bench, cold: dict) -> tuple[dict, dict]:
    """Compare each distinct request's cold-pass result with its DuckDB
    oracle: row count, columns, and the order-insensitive normalized
    rows of ``tests/oracle_util.py``.  Returns ({query: problem} for
    every query that does not match, {query: oracle row count})."""
    oracle_util = workloads.load_module(
        "oracle_util", os.path.join(ROOT, "tests", "oracle_util.py"))
    want = oracle_digests(bench, list(cold), oracle_util)
    problems = {}
    for name, got in cold.items():
        if isinstance(got, Exception):
            problems[name] = f"raised {got!r}"[:300]
            continue
        g, w = digest(oracle_util, got), want[name]
        if g["rows"] != w["rows"]:
            problems[name] = f"{g['rows']} rows, oracle {w['rows']}"
        elif g["columns"] != w["columns"]:
            problems[name] = f"columns {g['columns']}, oracle {w['columns']}"
        elif g["hash"] != w["hash"]:
            problems[name] = "values differ from the oracle"
    return problems, {n: w["rows"] for n, w in want.items()}


# -- traced passes ------------------------------------------------------------

def install_tracing(bench: Bench, tracer, patches) -> list:
    """Wrap each layer's entry points so calls open spans.  Returns the
    list that collects (catalyst span, Dataset) for every planned
    export."""
    import importlib
    import inspect
    import pkgutil

    import pydiverse_transform_spark.extras as extras
    import pydiverse_transform_spark.sources as sources
    import pydiverse_transform_spark.targets as targets
    from pydiverse_transform_spark.table import Table
    from pyspark.sql.classic.dataframe import DataFrame

    from tracing import engine_namespaces

    for info in pkgutil.iter_modules(extras.__path__):
        importlib.import_module(f"{extras.__name__}.{info.name}")
    namespaces = engine_namespaces()

    def wrap_public(module, layer):
        for attr, fn in list(vars(module).items()):
            if (inspect.isfunction(fn) and not attr.startswith("_")
                    and fn.__module__ == module.__name__):
                short = module.__name__.rsplit(".", 1)[-1]
                name = f"{layer}.{attr}" if layer != "extras" \
                    else f"extras.{short}.{attr}"
                patches.rebind(fn, tracer.wrap(name, fn), namespaces)

    wrap_public(sources, "sources")
    for attr, mod in list(vars(extras).items()):
        if inspect.ismodule(mod) and mod.__name__.startswith(extras.__name__):
            wrap_public(mod, "extras")

    def export_attrs(span, out):
        if isinstance(out, DataFrame):  # the Spark target builds, no action
            return
        span.attrs["rows"] = result_rows(out)
        if hasattr(out, "nbytes"):
            span.attrs["arrow_bytes"] = out.nbytes

    patches.rebind(targets.export_to,
                   tracer.wrap("targets.export_to", targets.export_to,
                               on_result=export_attrs),
                   namespaces)
    patches.setattr(Table, "__rshift__",
                    tracer.wrap("dsl.verb", Table.__rshift__))

    # the action inside an export, after planning the Dataset it runs:
    # collect, toArrow and toPandas reuse that QueryExecution, so the
    # action does not plan again
    planned = []

    def action(method):
        orig = getattr(DataFrame, method)

        def traced(self, *a, **k):
            inner = tracer.innermost()
            if inner is None or inner.layer != "targets":
                return orig(self, *a, **k)
            with tracer.span("catalyst.plan") as span:
                self._jdf.queryExecution().executedPlan()
            planned.append((span, self._jdf))
            with tracer.span("exec.action"):
                return orig(self, *a, **k)
        return traced

    for method in ("toPandas", "toArrow", "collect"):
        patches.setattr(DataFrame, method, action(method))

    client = bench.spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def counting(command, *a, **k):
        tracer.count_command(command)
        return send(command, *a, **k)

    patches.setattr(client, "send_command", counting)
    return planned


def layer_metrics(spans, stages: dict, counters, audit_plan, cores,
                  storage) -> dict:
    """Per-pass sums of the per-layer metrics over one traced pass."""
    from tracing import self_ids, self_py4j, self_time

    m = {k: 0.0 for k in PER_LAYER}
    exec_jobs: set[int] = set()
    for s in spans:
        layer = s.layer
        st = self_time(s)
        if layer == "sources":
            m["sources.read_s"] += st
            m["sources.jobs"] += len(self_ids(s, "jobs"))
        elif layer == "dsl":
            m["dsl.build_s"] += st
            m["dsl.py4j_calls"] += self_py4j(s)
        elif layer == "extras":
            m["extras.build_s"] += st
            m["extras.jobs"] += len(self_ids(s, "jobs"))
            m["extras.py4j_calls"] += self_py4j(s)
        elif layer == "catalyst":
            m["catalyst.plan_s"] += s.end - s.start
            m["catalyst.plan_chars"] += s.attrs.get("plan_chars", 0)
            phases = s.attrs.get("phases_s", {})
            m["catalyst.optimization_s"] += phases.get("optimization", 0.0)
            m["catalyst.planning_s"] += phases.get("planning", 0.0)
        elif layer == "exec":
            m["exec.s"] += st
            jobs = self_ids(s, "jobs")
            exec_jobs.update(jobs)
            m["exec.jobs"] += len(jobs)
            for sid in self_ids(s, "stages"):
                rec = stages.get(sid)
                if rec is None or rec["status"] == "SKIPPED":
                    continue
                m["exec.stages"] += 1
                m["exec.tasks"] += rec["numTasks"]
                m["exec.failed_tasks"] += rec["numFailedTasks"]
                m["exec.shuffle_write_bytes"] += rec["shuffleWriteBytes"]
                m["exec.shuffle_read_bytes"] += rec["shuffleReadBytes"]
                m["exec.spill_bytes"] += (rec["memoryBytesSpilled"]
                                          + rec["diskBytesSpilled"])
                m["exec.executor_cpu_s"] += rec["executorCpuTime"] / 1e9
                m["exec.executor_run_s"] += rec["executorRunTime"] / 1e3
        elif layer == "targets":
            m["targets.export_s"] += st
            m["targets.rows"] += s.attrs.get("rows", 0)
            m["targets.arrow_bytes"] += s.attrs.get("arrow_bytes", 0)
    if m["exec.s"] > 0:
        m["exec.slot_busy_ratio"] = (m["exec.executor_run_s"]
                                     / (m["exec.s"] * cores))
    for plan in counters.sql_plans(exec_jobs):
        a = audit_plan(plan)
        m["plan.exchanges"] += a["n_exchange"]
        m["plan.broadcast_joins"] += a["n_broadcast_join"]
        m["plan.sort_merge_joins"] += a["n_smj"]
        m["plan.python_evals"] += a["n_python"]
    m["storage.persisted_rdds"], m["storage.cached_bytes"] = storage
    return m


def layer_shares(spans) -> dict[str, float]:
    """Share of traced request time spent as self time in each layer;
    ``request`` is time inside the query builder outside every layer."""
    from tracing import self_time

    by_layer: dict[str, float] = {}
    for s in spans:
        by_layer[s.layer] = by_layer.get(s.layer, 0.0) + self_time(s)
    total = sum(by_layer.values()) or 1.0
    return {k: round(v / total, 4) for k, v in sorted(by_layer.items())}


PER_LAYER = {
    "sources.read_s": "s", "sources.jobs": "count",
    "dsl.build_s": "s", "dsl.py4j_calls": "count",
    "extras.build_s": "s", "extras.jobs": "count",
    "extras.py4j_calls": "count",
    "catalyst.plan_s": "s", "catalyst.plan_chars": "chars",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "plan.exchanges": "count", "plan.broadcast_joins": "count",
    "plan.sort_merge_joins": "count", "plan.python_evals": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.failed_tasks": "count",
    "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.executor_cpu_s": "s",
    "exec.executor_run_s": "s", "exec.slot_busy_ratio": "ratio",
    "targets.export_s": "s", "targets.rows": "count",
    "targets.arrow_bytes": "bytes",
    "storage.persisted_rdds": "count", "storage.cached_bytes": "bytes",
}


def traced_pass(bench: Bench, done, failed, rows, counters, audit_plan):
    from tracing import Patches, Tracer

    tracer = Tracer(counters.next_ids)
    patches = Patches()
    first_stage = counters.next_ids()[1]
    planned = install_tracing(bench, tracer, patches)
    bench.tracer = tracer
    try:
        wall = bench.timed_pass({}, done, failed, rows)
    finally:
        bench.tracer = None
        patches.undo()
    for span, jdf in planned:  # read after the pass, outside every span
        span.attrs["plan_chars"] = len(
            jdf.queryExecution().optimizedPlan().toString())
        span.attrs["phases_s"] = sc.phase_seconds(jdf)
    counters.drain()
    stages = counters.stages(first_stage)
    metrics = layer_metrics(tracer.spans, stages, counters, audit_plan,
                            bench.cores, counters.storage())
    return wall, metrics, tracer.spans


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print(f"perfbench: no engine next to {HERE} "
              "(__spark_entry__.py and pydiverse_transform_spark/ are "
              "needed)", file=sys.stderr)
        return 2
    workload = workloads.WORKLOADS[args.workload]
    # half the host's cores: with a task slot on every core, each stage
    # waits for whichever core the shared host is slow on; in one 10-pass
    # run on 4 cores, passes spread 4.97-8.55 s with 4 slots and
    # 6.96-9.16 s with 2
    cores = max(1, sc.host_cores() // 2)
    tmp = os.path.join(workloads.BUILD_DIR, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    sys.path.insert(0, ROOT)
    load_start = os.getloadavg()

    spark = start_spark(cores, tmp)
    try:
        t = time.perf_counter()
        data, generated = workloads.data_dir(workload, spark, ROOT, cores)
        if generated:
            # set-up time and the JVM's peak come from a JVM that has not
            # built the replica; set-up still counts one JVM start
            stop_spark(spark)
            spark = None
            spark = start_spark(cores, tmp)
        prep_s = time.perf_counter() - t
        marks = {"data_ready": time.perf_counter()}
        bench = Bench(spark, workload, data, args.seed, cores)
        cold = bench.warm_up()
        setup_s = time.perf_counter() - PROCESS_START - prep_s
        marks["warmed_up"] = time.perf_counter()

        counters = sc.SparkCounters(spark)
        audit_plan = workloads.load_module(
            "plan_audit", os.path.join(ROOT, "tools", "plan_audit.py")
        ).audit_plan
        n_passes = workload.passes(args.seconds)
        latencies: dict[str, list[float]] = {}
        done: list[str] = []
        failed: list[str] = []
        rows: dict[str, set] = {}
        walls, traced_walls, layer_runs, spans_out = [], [], [], []
        for i in range(n_passes):
            if args.trace and i % 2 == 1:
                wall, m, spans = traced_pass(
                    bench, done, failed, rows, counters, audit_plan)
                traced_walls.append(wall)
                layer_runs.append((m, layer_shares(spans)))
                spans_out.append({"pass": i, "spans": [s.as_record()
                                                       for s in spans]})
            else:
                walls.append(bench.timed_pass(latencies, done, failed, rows))
        marks["passes_done"] = time.perf_counter()
        # peaks read before the oracle check, whose DuckDB runs in this
        # process
        jvm_rss = sc.peak_rss_mb(counters.jvm_pid())
        rss_mb = jvm_rss + sc.python_peak_rss_mb()
        problems, oracle_rows = oracle_check(bench, cold)
        marks["oracle_done"] = time.perf_counter()
        for name, counts in rows.items():
            want = oracle_rows.get(name)
            if want is not None and counts != {want}:
                problems.setdefault(
                    name, f"timed results had {sorted(counts)} rows, "
                    f"oracle {want}")
        versions = {"spark": spark.version,
                    "pyspark": __import__("pyspark").__version__}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    marks["stopped"] = time.perf_counter()

    attempted = len(done) + len(failed)
    n_failed = len(failed) + sum(1 for q in done if q in problems)
    lat = sorted(v for vs in latencies.values() for v in vs)
    tail_p = tail_percentile(len(lat))
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (pass_seconds(latencies), "s"),
        "query_s.p50": (statistics.median(lat), "s"),
        "driver_rss_peak_mb": (rss_mb, "MiB"),
    }
    record = {
        "workload": workload.name, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "cores": cores,
        "host_cores": sc.host_cores(),
        "driver_memory": DRIVER_MEMORY, "versions": versions,
        "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
        "data_prep_s": prep_s,
        "timeline_s": {k: v - PROCESS_START for k, v in marks.items()},
        "jvm_rss_peak_mb": jvm_rss,
        "passes": len(walls), "pass_walls_s": walls,
        "pass_wall_median_s": statistics.median(walls),
        "drift": (walls[-1] - walls[0]) / walls[0],
        "query_samples": len(lat), "tail_percentile": tail_p,
        "query_s_tail": tail_p and nearest_rank(lat, tail_p),
        "failed_ratio": n_failed / max(1, attempted),
        "oracle_problems": problems, "request_errors": bench.failures,
        "query_latencies_s": latencies, "cold_query_s": bench.cold_s,
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
    }
    if args.trace:
        layer = {k: statistics.median(m[k] for m, _ in layer_runs)
                 for k in PER_LAYER}
        layer["trace.overhead_s"] = (statistics.median(traced_walls)
                                     - statistics.median(walls))
        record["per_layer"] = layer
        record["layer_shares"] = [s for _, s in layer_runs]
        record["traced_pass_walls_s"] = traced_walls
        units = {**PER_LAYER, "trace.overhead_s": "s"}
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    os.makedirs(OUT_DIR, exist_ok=True)
    stem = f"{workload.name}_seed{args.seed}_trace{args.trace}"
    with open(os.path.join(OUT_DIR, stem + ".json"), "w") as f:
        json.dump({**record, "traces": spans_out}, f, indent=1, default=str)
    print("perfbench " + json.dumps(record, default=str))
    print(json.dumps({"correct": not problems and not n_failed,
                      "attempted": attempted, "failed": n_failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
