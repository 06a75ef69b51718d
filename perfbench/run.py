"""Latency benchmark for the engine's declared queries.

    python3 perfbench/run.py --workload finance_core --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  The run

1. copies the engine's sf0.01 test tables, rows permuted by ``--seed``
   (``gen.py``), under ``.perfbench/``;
2. sets the session up once in this fresh process (``get_spark()``, which
   starts the JVM, plus the warm-up ``bench.py`` makes);
3. runs the workload's queries as a closed loop with one client: the next
   query starts only after the previous one's noop write has finished.
   The first pass is the cold pass, the next ``WARM_PASSES`` are the warm
   passes the metrics read; further passes run, unmeasured, only while
   less than ``--seconds`` of query time has been spent;
4. checks, during the cold pass but outside the timed region, every
   query's output against its DuckDB oracle;
5. prints one JSON line: the end-to-end metrics, or with ``--trace 1`` the
   per-layer metrics of a second, traced phase run after an untraced one.

Exits 2 without a result when the checkout has no engine to run or the
test tables are not there.
"""

from __future__ import annotations

import argparse
import functools
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import measure  # noqa: E402
import spans  # noqa: E402
from workloads import DRIVER_MEM, SCALE, WARM_PASSES, WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "heap_live_peak_mb": "MB",
}


def _env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers import the engine's modules by name
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    confs = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    args = " ".join(f"--conf '{k}={v}'" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def _warm_up(spark, tmp: str) -> None:
    """The warm-up ``bench.py`` makes (JVM/codegen start, a broadcast join
    and the Python worker pool), plus a parquet scan feeding a window and
    an aggregate, all on synthetic data.  Every query scans parquet, so
    without the scan the first query of the cold pass, whichever the seed
    puts first, would also pay 1-2 s of one-off reader start-up."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    w = spark.range(10_000).selectExpr("id", "id % 7 AS k")
    w.join(F.broadcast(w.groupBy("k").count()), "k").write.format("noop").mode("overwrite").save()
    w.mapInPandas(lambda it: it, "id long, k long").write.format("noop").mode("overwrite").save()
    path = os.path.join(tmp, "warm-up.parquet")
    pq.write_table(pa.table({"id": range(10_000), "k": [i % 7 for i in range(10_000)]}), path)
    p = spark.read.parquet(path).withColumn("c", F.sum("id").over(Window.partitionBy("k").orderBy("id")))
    p.groupBy("k").agg(F.avg("c")).write.format("noop").mode("overwrite").save()


class Runner:
    """Runs queries one at a time on ``spark`` against the files in
    ``data``, keeping counts of attempted and failed operations.  With a
    ``tracer`` set, each query runs under spans and its jobs are read from
    ``store`` afterwards."""

    def __init__(self, spark, queries, data: str, tree: measure.ProcTree):
        self.spark = spark
        self.queries = queries
        self.data = data
        self.tree = tree
        self.attempted = 0
        self.failed = 0
        self.tracer = None
        self.store = None

    def _housekeeping(self, rec: dict) -> None:
        """After each query, as ``bench.py`` does: drop cached frames and
        make the driver GC, then read what is left."""
        spark = self.spark
        jsc = spark.sparkContext._jsc
        if self.tracer is not None:
            rec["storage_mb"] = sum(r.memSize() for r in jsc.sc().getRDDStorageInfo()) / 1e6
        spark.catalog.clearCache()
        # drop this side's references first, so the JVM GC below sees the
        # same live set whenever Python's own cycle collector last ran
        gc.collect()
        spark._jvm.System.gc()
        rt = spark._jvm.java.lang.Runtime.getRuntime()
        rec["heap_mb"] = (rt.totalMemory() - rt.freeMemory()) / 1e6
        if self.tracer is not None:
            from pd_utils_spark import utils

            rec["persisted_left"] = jsc.getPersistentRDDs().size()
            rec["registry_left"] = sum(len(v) for v in utils._PERSIST_REGISTRY.values())
            rec["rss_mb"] = self.tree.rss_mb()

    def one(self, name: str, oracle: Oracle | None = None) -> dict:
        """Run one query through its noop write, timed; then, untimed,
        check the same frame against ``oracle`` and tidy up."""
        fn = self.queries[name]
        df = None
        tracer = self.tracer
        rec: dict = {"name": name, "ok": True}
        cpu0 = self.tree.cpu()
        t0 = time.perf_counter()
        rec["t0"] = time.time()
        try:
            if tracer is None:
                df = fn(self.spark, self.data)
                df.write.format("noop").mode("overwrite").save()
            else:
                tracer.query = name
                df = tracer.call_root("entry", name, fn, self.spark, self.data)
                tracer.call_root("sink", name, df.write.format("noop").mode("overwrite").save)
        except Exception:
            rec["ok"] = False
            print(f"perfbench: {name} failed:\n{traceback.format_exc()}", file=sys.stderr)
        rec["latency"] = time.perf_counter() - t0
        rec["t1"] = time.time()
        cpu1 = self.tree.cpu()
        rec["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu1}
        self.attempted += 1
        self.failed += not rec["ok"]
        if oracle is not None:
            t_check = time.perf_counter()
            problems = oracle.problems(name, df) if df is not None else ["the query raised"]
            rec["check"] = time.perf_counter() - t_check
            if problems:
                print(f"perfbench: {name} does not match its oracle: {problems}", file=sys.stderr)
            self.attempted += 1
            self.failed += bool(problems)
        self._housekeeping(rec)
        if self.store is not None:
            rec["jobs"], rec["stages"], rec["lost"] = self.store.drain()
        return rec

    def run_passes(self, order, seconds: float, oracle: Oracle) -> list[list[dict]]:
        """The cold pass, which also checks each output, and
        ``WARM_PASSES`` warm passes over ``order``; then more passes while
        less than ``seconds`` of query time has been spent."""
        passes = [[self.one(n, oracle) for n in order]]
        passes += [[self.one(n) for n in order] for _ in range(WARM_PASSES)]
        while sum(r["latency"] for p in passes for r in p) < seconds:
            passes.append([self.one(n) for n in order])
        return passes


class Oracle:
    """The DuckDB side of the oracle check, over the same generated
    files; ``compare`` is the repository's own (scripts/check_oracle.py)."""

    def __init__(self, data: str):
        import duckdb
        import __spark_entry__ as entry
        from scripts.check_oracle import TABLES, compare

        self.compare = compare
        self.sql = entry.oracle_sql()
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")

    def problems(self, name: str, df) -> list[str]:
        try:
            return self.compare(name, df, self.con.execute(self.sql[name]).fetchdf())
        except Exception as e:
            return [f"{type(e).__name__}: {str(e)[:300]}"]

    def close(self) -> None:
        self.con.close()


def warm_readings(passes, key: str) -> dict[str, list[float]]:
    """Per query, the readings of ``key`` in the warm passes: passes 2 to
    ``WARM_PASSES`` + 1 whatever else the run made, so that a faster
    commit is compared over the same passes as a slower one."""
    out = defaultdict(list)
    for r in (r for p in passes[1:1 + WARM_PASSES] for r in p):
        out[r["name"]].append(r[key])
    return out


def warm_pass_s(passes) -> float:
    """A typical warm pass: the sum of the queries' median warm latencies."""
    return sum(statistics.median(v) for v in warm_readings(passes, "latency").values())


def end_to_end(setup, passes) -> dict:
    return {
        "setup_s": sum(setup),
        "cold_pass_s": sum(r["latency"] for r in passes[0]),
        "warm_pass_s": warm_pass_s(passes),
        # the heap left after a full GC overstates the live set by what
        # Spark's cleaner has not yet freed (a one-pass jump of ~30 MB in
        # some runs), so each query's lowest warm reading is its live heap.
        # Warm passes only: the status store keeps growing, so a longer run
        # would otherwise read a larger heap, and the cold pass adds what
        # its oracle checks leave for the cleaner
        "heap_live_peak_mb": max(min(v) for v in warm_readings(passes, "heap_mb").values()),
    }


def pass_layers(recs: list[dict], pass_spans, batches: list[dict], stream_runs: set[str]) -> dict:
    """Per-layer totals of one traced pass."""
    m: dict[str, float] = defaultdict(float)
    selfs = spans.self_times(pass_spans)
    for s in pass_spans:
        key = s.layer
        if key == "sink":
            m["sink.wall_s"] += s.end - s.start
            continue
        m[f"{key}.self_s"] += selfs[id(s)]
        if key != "entry":
            m[f"{key}.calls"] += 1
    jobs = [j for r in recs for j in r["jobs"]]
    stages = [st for r in recs for st in r["stages"]]
    owner = spans.attribute(jobs, pass_spans, stream_runs)
    task_by_job: dict[int, float] = defaultdict(float)
    for st in stages:
        task_by_job[st["jobId"]] += st["executorRunTime"] / 1000.0
    for jid, layer in owner.items():
        if layer is None:
            m["spark.jobs_unattributed"] += 1
            continue
        m[f"{layer}.jobs"] += 1
        m[f"{layer}.task_s"] += task_by_job[jid]
    m["spark.jobs_unattributed"] += sum(r["lost"] for r in recs)
    m["spark.jobs"] = len(jobs) + sum(r["lost"] for r in recs)
    m["spark.stages"] = len(stages)
    m["spark.stages_skipped"] = sum(st["status"] == "SKIPPED" for st in stages)
    live = [st for st in stages if st["status"] != "SKIPPED"]
    m["spark.tasks"] = sum(st["numTasks"] for st in live)
    m["spark.tasks_failed"] = sum(st["numFailedTasks"] for st in stages)
    m["spark.task_s"] = sum(st["executorRunTime"] for st in stages) / 1000.0
    m["spark.task_cpu_s"] = sum(st["executorCpuTime"] for st in stages) / 1e9
    m["spark.gc_s"] = sum(st["jvmGcTime"] for st in stages) / 1000.0
    m["spark.shuffle_read_mb"] = sum(st["shuffleReadBytes"] for st in stages) / 1e6
    m["spark.shuffle_write_mb"] = sum(st["shuffleWriteBytes"] for st in stages) / 1e6
    m["spark.spill_mb"] = sum(st["diskBytesSpilled"] for st in stages) / 1e6
    m["spark.input_mb"] = sum(st["inputBytes"] for st in stages) / 1e6
    m["spark.sched_gap_s"] = sum(
        r["latency"] - spans.union_length(
            (max(st["submissionTime"] / 1000.0, r["t0"]), min(st["completionTime"] / 1000.0, r["t1"]))
            for st in r["stages"]
            if st["status"] != "SKIPPED" and st.get("submissionTime") and st.get("completionTime")
        )
        for r in recs
    )
    m["proc.jvm_cpu_s"] = sum(r["cpu"]["jvm"] for r in recs)
    m["proc.pyworker_cpu_s"] = sum(r["cpu"]["pyworker"] for r in recs)
    m["proc.driver_cpu_s"] = sum(r["cpu"]["driver"] for r in recs)
    m["proc.peak_rss_mb"] = max(r["rss_mb"] for r in recs)
    m["utils.storage_peak_mb"] = max(r["storage_mb"] for r in recs)
    m["utils.persisted_left"] = max(r["persisted_left"] for r in recs)
    m["utils.registry_left"] = max(r["registry_left"] for r in recs)
    trig = [b["trigger_s"] for b in batches]
    m["streaming.batches"] = len(batches)
    m["streaming.batch_p50_s"] = statistics.median(trig) if trig else 0.0
    m["streaming.batch_max_s"] = max(trig, default=0.0)
    m["streaming.addbatch_s"] = sum(b["addbatch_s"] for b in batches)
    m["streaming.walcommit_s"] = sum(b["walcommit_s"] for b in batches)
    last_rows: dict[str, int] = {}
    for b in batches:
        last_rows[b["run_id"]] = b["state_rows"]
    m["streaming.state_rows"] = sum(last_rows.values())
    m["streaming.state_commit_s"] = sum(b["state_commit_s"] for b in batches)
    return m


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    **{f"{layer}.{k}": u for layer in spans.LAYERS
       for k, u in (("calls", "count"), ("self_s", "s"), ("jobs", "count"), ("task_s", "s"))},
    "entry.self_s": "s", "entry.jobs": "count", "entry.task_s": "s",
    "sink.wall_s": "s", "sink.jobs": "count", "sink.task_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.stages_skipped": "count",
    "spark.tasks": "count", "spark.tasks_failed": "count", "spark.jobs_unattributed": "count",
    "spark.task_s": "s", "spark.task_cpu_s": "CPU-s", "spark.gc_s": "s", "spark.sched_gap_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.input_mb": "MB",
    "proc.jvm_cpu_s": "CPU-s", "proc.jvm_cpu_cold_s": "CPU-s", "proc.pyworker_cpu_s": "CPU-s",
    "proc.driver_cpu_s": "CPU-s", "proc.write_mb": "MB", "proc.peak_rss_mb": "MB",
    "streaming.batches": "count", "streaming.batch_p50_s": "s", "streaming.batch_max_s": "s",
    "streaming.addbatch_s": "s", "streaming.walcommit_s": "s", "streaming.state_rows": "rows",
    "streaming.state_commit_s": "s",
    "utils.storage_peak_mb": "MB", "utils.persisted_left": "count", "utils.registry_left": "count",
    "trace.overhead": "ratio",
}


def traced_phase(runner: Runner, order, trace_file: str) -> tuple[list[dict], list[float]]:
    """Wrap the layers, attach the status-store reader and the streaming
    listener, and run two traced passes, each beside an untraced one, in
    the order untraced, traced, traced, untraced, so that
    warm-up still going on weighs the same on both sides.  Writes the
    spans to ``trace_file`` and returns the layer metrics of each traced
    pass and the query time of each untraced one."""
    import __spark_entry__ as entry

    tracer = spans.Tracer()
    spans.wrap_layers(tracer, [entry])
    runner.store = spans.StatusStore(runner.spark)
    listener = spans.stream_listener()
    out, untraced = [], []
    for traced in (False, True, True, False):
        if not traced:
            tracer.enabled, runner.tracer = False, None
            untraced.append(sum(runner.one(n)["latency"] for n in order))
            continue
        tracer.enabled, runner.tracer = True, tracer
        runner.spark.streams.addListener(listener)
        n_spans, n_batches = len(tracer.spans), len(listener.batches)
        w0 = runner.tree.write_mb()
        recs = [runner.one(n) for n in order]
        write_mb = runner.tree.write_mb() - w0
        runner.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        runner.spark.streams.removeListener(listener)
        m = pass_layers(recs, tracer.spans[n_spans:], listener.batches[n_batches:],
                        listener.run_ids)
        m["proc.write_mb"] = write_mb
        m["pass_s"] = sum(r["latency"] for r in recs)
        out.append(m)
    spans.write_spans(tracer.spans, trace_file)
    return out, untraced


def _stop(spark) -> None:
    """Stop Spark, then close the JVM's stdin (the gateway exits on EOF)
    and wait for it, so no process of the run outlives it."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _summary(result, setup, passes) -> None:
    """Diagnostics on standard error: failed share, set-up and pass times,
    and per-query cold latency / check time and warm median latency."""
    err = functools.partial(print, "perfbench:", file=sys.stderr)
    err(f"failed_frac={result['failed'] / result['attempted']:.4f}",
        f"setup={sum(setup):.2f} (start {setup[0]:.2f})",
        f"passes={[round(sum(r['latency'] for r in p), 2) for p in passes]}")
    err("cold latency/check s:", *(f"{r['name']}={r['latency']:.2f}/{r['check']:.2f}" for r in passes[0]))
    warm = defaultdict(list)
    for r in (r for p in passes[1:] for r in p):
        warm[r["name"]].append(r["latency"])
    err("warm median s:", *(f"{n}={statistics.median(v):.2f}" for n, v in warm.items()))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "pd_utils_spark"))):
        print(f"perfbench: no engine (__spark_entry__.py, pd_utils_spark/) in {ROOT}", file=sys.stderr)
        return 2
    try:
        src = gen.source_dir(ROOT, SCALE)
    except OSError as e:
        print(f"perfbench: cannot locate the test tables: {e}", file=sys.stderr)
        return 2
    missing = [t for t in gen.TABLES if not os.path.isfile(os.path.join(src, f"{t}.parquet"))]
    if missing:
        print(f"perfbench: {src} lacks the test tables {missing}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    _env(work)
    spark = None
    try:
        data = os.path.join(work, "data")
        gen.write_inputs(src, data, args.seed)
        sys.path.insert(0, ROOT)
        import __spark_entry__ as entry
        from pd_utils_spark.session import get_spark

        queries = entry.queries()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        _warm_up(spark, work)
        setup = (t1 - t0, time.perf_counter() - t1)
        runner = Runner(spark, queries, data, measure.ProcTree())
        order = gen.query_order(WORKLOADS[args.workload], args.seed)
        oracle = Oracle(data)
        passes = runner.run_passes(order, args.seconds, oracle)
        oracle.close()
        if args.trace:
            trace_file = os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl")
            layers, untraced = traced_phase(runner, order, trace_file)
            print(f"perfbench: spans written to {trace_file}; traced passes",
                  [round(p["pass_s"], 2) for p in layers], "untraced", [round(u, 2) for u in untraced],
                  file=sys.stderr)
            metrics = {k: statistics.median([p.get(k, 0.0) for p in layers]) for k in PER_LAYER_UNITS}
            metrics["session.start_s"], metrics["session.warmup_s"] = setup
            metrics["proc.jvm_cpu_cold_s"] = sum(r["cpu"]["jvm"] for r in passes[0])
            traced = statistics.median([p["pass_s"] for p in layers])
            metrics["trace.overhead"] = traced / statistics.median(untraced)
            units = PER_LAYER_UNITS
        else:
            metrics = end_to_end(setup, passes)
            units = END_TO_END
        result = {
            "correct": runner.failed == 0,
            "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    _summary(result, setup, passes)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
