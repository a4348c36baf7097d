"""The repository's benchmark: one seeded workload, end to end.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  It generates the workload's inputs
from the seed, computes every query's DuckDB oracle, sets the engine up
several times, then runs passes over the workload's queries for
``--seconds`` seconds.  Load is one client in a closed loop: one driver
process running one query at a time on ``local[k]``.  One pass calls
``queries()[name](spark, dir)`` for each query and collects the result
to the driver (``toPandas``).  The first pass also checks each
collected result against its oracle, with the clock paused, so the
output checked is the output timed and no query runs twice.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  With ``--trace 0`` the
metrics are the end-to-end ones (medians; sample counts go to stderr).
With ``--trace 1`` the run has the same shape, but launches the engine
with Spark's event log on, counts each query's jobs, records spans and
reports per-layer metrics instead -- a layer is the package module that
defines a query.  Its spans go to
``.perfbench_out/spans-<workload>-<seed>.json``.  The tracing overhead
is its ``trace.cpu_s`` minus the untraced run's ``cpu_s``.

Everything the run writes lives under the checkout and is removed on
exit, except that spans file.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from tracing import (
    JobCounter,
    RssSampler,
    Spans,
    busy_cpu_s,
    read_event_log,
    union_length,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "activity_classifier_spark_cassandra_spark"

WORKLOADS: dict[str, dict] = {
    "activity_pipeline": {
        "builds": [],
        "queries": [
            "q_sessionize",
            "q_session_features",
            "q_session_features_3axis",
            "q_session_features_skewres",
            "q_stream_windowed_features",
            "q_stream_dedup",
            "q_ml_predict_counts",
        ],
    },
    "iterative_loops": {
        "builds": ["memo_graph_q8"],
        "queries": [
            "q_stream_graph_ingest",
            "q_pagerank",
            "q_dedup_minhash_cc",
            "q_pca_power",
            "q_bpe_merges",
            "q_quality_classifier",
            "q_coreset_kcenter",
        ],
    },
}

# Every module that defines a query of some workload: the layers.
MODULES = [
    "plans.pipeline",
    "streaming.sessions",
    "ml.models",
    "operators.graph_ann",
    "streaming.ann_index",
    "operators.graph",
    "operators.dedup",
    "operators.similarity",
    "operators.text",
    "operators.corpus",
    "operators.coreset",
    "streaming.dedup",
]
LAYER_FIELDS = [
    ("call_s", "s"),
    ("sink_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("failed_tasks", "count"),
    ("executor_cpu_s", "s"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
    ("driver_s", "s"),
]
# Wall time is logged, not reported: on a shared host its run-to-run
# spread (IQR/median 0.25 over five seeds) exceeds any bound, while the
# CPU seconds of the same runs spread 0.05.
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    **{f"{m}.{f}": u for m in MODULES for f, u in LAYER_FIELDS},
    "session.get_spark_s": "s",
    "operators.graph_ann.build_s": "s",
    "trace.wall_s": "s",
    "trace.cpu_s": "s",
}

SETUP_REPS = 3
# Every workload warms up with the same cheap query over its events
# table, so set-up costs the same wherever the workload spends its time.
WARMUP = "q_sessionize"
DRIVER_MEMORY = "2g"
MAX_CORES = 2
T0 = time.perf_counter()


def log(msg: str) -> None:
    t = time.perf_counter() - T0
    print(f"perfbench {t:6.1f}s: {msg}", file=sys.stderr, flush=True)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, work: str) -> None:
        self.name = workload
        self.wl = WORKLOADS[workload]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.data = os.path.join(work, "data")
        self.cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
        self.spark = None
        self.spans = Spans() if trace else None
        self.attempted = 0
        self.failed = 0
        self.verdicts: dict[str, str] = {}

    # ---------------------------------------------------- environment
    def launch_environment(self) -> None:
        """Keep every file Spark, the JVM and the queries write inside
        the work directory, and make the package importable by the
        Python workers."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        tempfile.tempdir = tmp
        java_opts = (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={self.work} "
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData"
        )
        submit = ["--driver-java-options", java_opts,
                  "--conf", "spark.ui.showConsoleProgress=false"]
        if self.trace:
            # the job counter reads every job back from the status store;
            # the event log is switched on here, session.py is untouched
            self.log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.log_dir)
            for conf in ("spark.ui.retainedJobs=100000",
                         "spark.ui.retainedStages=100000",
                         "spark.eventLog.enabled=true",
                         f"spark.eventLog.dir=file://{self.log_dir}",
                         "spark.eventLog.compress=false",
                         "spark.eventLog.rolling.enabled=false"):
                submit += ["--conf", conf]
        os.environ.update(
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=os.path.join(self.work, "local"),
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            SPARK_GRAFT_CPUS=str(self.cores),
            SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
            PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
        )
        sys.path.insert(0, ROOT)
        os.chdir(self.work)

    # ---------------------------------------------------------- inputs
    def write_inputs(self) -> None:
        import datagen

        t0 = time.perf_counter()
        self.rows = datagen.write(self.name, self.seed, self.data)
        log(f"inputs {self.rows} in {time.perf_counter() - t0:.2f}s")

    def prepare_oracles(self) -> None:
        import __spark_entry__ as entry
        from oracle import Oracle

        t0 = time.perf_counter()
        sqls = entry.oracle_sql()
        self.oracle = Oracle(ROOT, self.data, self.cores)
        for q in self.wl["queries"]:
            if q in sqls:
                self.oracle.prepare(q, sqls[q])
        self.oracle.close()
        log(f"oracles in {time.perf_counter() - t0:.2f}s")

    # ----------------------------------------------------------- setup
    def setup(self) -> dict[str, float]:
        """A fresh Spark application: get_spark() and one warm-up query.
        ``setup_s`` is on the same clock as ``cpu_s``: the machine's busy
        CPU seconds, which a busy host does not stretch the way it
        stretches wall time."""
        from activity_classifier_spark_cassandra_spark.session import get_spark
        import __spark_entry__ as entry

        if self.spark is not None:
            self.spark.stop()
        t0, c0 = time.perf_counter(), busy_cpu_s()
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
        )
        t1 = time.perf_counter()
        warm = entry.queries()[WARMUP](self.spark, self.data)
        warm.write.format("noop").mode("overwrite").save()
        t2, c2 = time.perf_counter(), busy_cpu_s()
        log(f"set-up: get_spark {t1 - t0:.2f}s, warm-up {t2 - t1:.2f}s, "
            f"cpu {c2 - c0:.2f}s")
        return {"setup_s": c2 - c0, "get_spark_s": t1 - t0}

    # ---------------------------------------------------------- passes
    def run_pass(self, check: bool) -> dict:
        """One pass: the workload's index builds, then its queries.
        ``wall_s`` counts only the timed region: checks and job
        counting pause the clock."""
        from activity_classifier_spark_cassandra_spark.operators import (
            graph_ann,
        )
        import __spark_entry__ as entry

        registry = entry.queries()
        sc = self.spark.sparkContext
        spans, trace = self.spans, self.trace
        counter = None
        if trace:
            counter = JobCounter(sc)
            counter.take()  # the set-up's jobs belong to no layer
        steps = [(b, "operators.graph_ann", getattr(graph_ann, b), True)
                 for b in self.wl["builds"]]
        for name in self.wl["queries"]:
            fn = registry[name]
            steps.append(
                (name, fn.__module__.removeprefix(PKG + "."), fn, False)
            )
        per_query = []
        paused = paused_cpu = 0.0
        pass_span = spans.open("pass") if trace else None
        start, start_cpu = time.perf_counter(), busy_cpu_s()
        for name, module, fn, is_build in steps:
            sc.setJobGroup(f"{module}:{name}", name)
            rec = {"query": name, "module": module, "build": is_build}
            q_span = spans.open("query", pass_span, query=name,
                                module=module) if trace else None
            self.attempted += 1
            try:
                c_span = spans.open("call", q_span) if trace else None
                t0 = time.perf_counter()
                df = fn(self.spark, self.data)
                t1 = time.perf_counter()
                if trace:
                    spans.close(c_span)
                if not is_build:
                    s_span = spans.open("sink", q_span) if trace else None
                    result = df.toPandas()
                    if trace:
                        spans.close(s_span)
                t2 = time.perf_counter()
                if trace:
                    spans.close(q_span)
                    rec.update(start=q_span.start, end=q_span.end)
                rec.update(call_s=t1 - t0, sink_s=t2 - t1)
            except Exception:  # a failing query is counted, not fatal
                self.failed += 1
                log(f"{name} failed:\n{traceback.format_exc()}")
                for stream in self.spark.streams.active:
                    stream.stop()
                per_query.append(rec)
                continue
            p0, p0_cpu = time.perf_counter(), busy_cpu_s()
            if counter is not None:
                rec.update(counter.take())
            if check and not is_build:
                self.verdicts[name] = self.oracle.check(name, result)
            paused += time.perf_counter() - p0
            paused_cpu += busy_cpu_s() - p0_cpu
            per_query.append(rec)
        sc.setJobGroup(None, None)
        wall = time.perf_counter() - start - paused
        cpu = busy_cpu_s() - start_cpu - paused_cpu
        if trace:
            spans.close(pass_span)
        return {"wall_s": wall, "cpu_s": cpu, "queries": per_query}

    def timed_passes(self) -> list[dict]:
        """Passes until ``--seconds`` of timed work, at least one; the
        first also checks the results.  Each pass after the first starts
        a fresh application (untimed), so every pass pays the workload's
        index builds."""
        passes: list[dict] = []
        while not passes or sum(p["wall_s"] for p in passes) < self.seconds:
            if passes:
                self.setup()
            passes.append(self.run_pass(check=not passes))
        return passes

    # ------------------------------------------------------------ runs
    def run(self) -> dict:
        from pyspark import SparkContext

        import __spark_entry__  # noqa: F401 -- before the second thread

        self.write_inputs()
        # DuckDB computes the oracles while the JVM launches.  Only the
        # first set-up overlaps them; it is the slowest of the set-ups
        # anyway, so the median does not see the overlap.
        with ThreadPoolExecutor(1) as pool:
            oracles = pool.submit(self.prepare_oracles)
            setups = [self.setup()]
            oracles.result()
        setups += [self.setup() for _ in range(SETUP_REPS - 1)]
        # spark-submit execs the JVM, so the launched process is the JVM
        with RssSampler(SparkContext._gateway.proc.pid) as rss:
            passes = self.timed_passes()
        walls = [p["wall_s"] for p in passes]
        wall = median(walls)
        cpu = median([p["cpu_s"] for p in passes])
        setup_s = median([s["setup_s"] for s in setups])
        loop = median([
            p["wall_s"] - sum(q.get("call_s", 0) + q.get("sink_s", 0)
                              for q in p["queries"])
            for p in passes
        ])
        log(f"setup_s {setup_s:.3f} (n={len(setups)}), wall_s {wall:.3f} "
            f"(n={len(walls)}: {', '.join(f'{w:.3f}' for w in walls)}), "
            f"cpu_s {cpu:.2f}, "
            f"loop overhead {loop:.4f}s/pass, "
            f"peak_rss_mb {rss.peak_mb:.0f} (n={len(walls)})")
        for q in passes[0]["queries"]:
            verdict = "build" if q["build"] else self.verdicts.get(
                q["query"], "failed")
            log(f"  {q['query']:<28} {q['module']:<22} "
                f"call {q.get('call_s', float('nan')):7.3f}  "
                f"sink {q.get('sink_s', float('nan')):7.3f}  {verdict}")
        if self.trace:
            metrics = self.per_layer(setups, passes)
        else:
            metrics = {
                "setup_s": setup_s,
                "cpu_s": cpu,
                "peak_rss_mb": rss.peak_mb,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in metrics.items()}
        wrong = sum(v == "wrong" for v in self.verdicts.values())
        unchecked = len(self.wl["queries"]) - len(self.verdicts)
        log(f"wrong_results {wrong}, rounding ties "
            f"{sum(v == 'tie' for v in self.verdicts.values())}, "
            f"failed {self.failed}/{self.attempted}")
        return {
            "correct": wrong == 0 and unchecked == 0 and self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }

    def per_layer(self, setups: list[dict], passes: list[dict]) -> dict:
        """Fold the traced passes' spans, job counts and event-log stages
        into per-layer metrics."""
        self.spark.stop()  # flushes the event log
        self.spark = None
        stages = read_event_log(self.log_dir)
        self.spans.add_stages(stages)
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        self.spans.write(os.path.join(out, f"spans-{self.name}-{self.seed}.json"))

        per_pass = []
        for p in passes:
            layer = {m: dict.fromkeys((f for f, _ in LAYER_FIELDS), 0.0)
                     for m in MODULES}
            build_s = 0.0
            for q in p["queries"]:
                if "call_s" not in q:
                    continue
                acc = layer[q["module"]]
                if q["build"]:
                    build_s += q["call_s"]
                else:
                    acc["call_s"] += q["call_s"]
                    acc["sink_s"] += q["sink_s"]
                for f in ("jobs", "tasks", "failed_tasks"):
                    acc[f] += q[f]
                inside = [s for s in stages
                          if q["start"] <= s["start"] <= q["end"]]
                acc["executor_cpu_s"] += sum(s["cpu_s"] for s in inside)
                acc["shuffle_mb"] += sum(s["shuffle_mb"] for s in inside)
                acc["spill_mb"] += sum(s["spill_mb"] for s in inside)
                busy = union_length([
                    (s["start"], min(s["end"], q["end"])) for s in inside
                ])
                acc["driver_s"] += q["end"] - q["start"] - busy
            per_pass.append((layer, build_s))
        log(f"traced wall_s {median([p['wall_s'] for p in passes]):.3f} "
            f"(n={len(passes)}), {len(stages)} stages")
        values = {
            f"{m}.{f}": median([layer[m][f] for layer, _ in per_pass])
            for m in MODULES for f, _ in LAYER_FIELDS
        }
        values["session.get_spark_s"] = median(
            [s["get_spark_s"] for s in setups]
        )
        values["operators.graph_ann.build_s"] = median(
            [b for _, b in per_pass]
        )
        # the tracing overhead is these minus wall_s and cpu_s of the
        # untraced run at the same seed: both runs have the same shape,
        # so neither pass is warmer than the other
        values["trace.wall_s"] = median([p["wall_s"] for p in passes])
        values["trace.cpu_s"] = median([p["cpu_s"] for p in passes])
        return {k: {"value": v, "unit": PER_LAYER[k]}
                for k, v in values.items()}

    def shutdown(self) -> None:
        """Stop the engine and wait for its JVM to exit."""
        if "pyspark" not in sys.modules:
            return
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        run_seconds = json.load(fh)["run_seconds"]
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=run_seconds)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) or \
            not os.path.isdir(os.path.join(ROOT, PKG)):
        log(f"no engine to measure: {ROOT} lacks __spark_entry__.py or {PKG}/")
        return 2

    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    warehouse = os.path.join(ROOT, "spark-warehouse")
    had_warehouse = os.path.exists(warehouse)
    cwd = os.getcwd()
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                  work)
    try:
        bench.launch_environment()
        result = bench.run()
    finally:
        bench.shutdown()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(scratch):
            os.rmdir(scratch)
        if not had_warehouse:
            shutil.rmtree(warehouse, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
