"""The repository's benchmark: one trading day of the whole system.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload skewed --seed 1 --seconds 8 --trace 0

A run makes its inputs from the seed, starts one Spark session at
``local[<cores>]``, warms it up with one DAG day and one checked
execution of each query, and then, in one closed loop with one client:

1. runs the reference DAG (``sources.ingest.extract_zip_files`` ->
   ``plans.pipeline.run_pipeline``) once per further trading day;
2. drains the day's ticks, landed as a parquet backlog, through
   ``streaming.ohlc_stream`` into the keyed-merge OHLC table;
3. runs the contract query subset in seeded order, pass after pass.
   ``--seconds`` is the query mix's time budget on the reference
   machine (``PASS_BUDGET_S`` per pass): it fixes the number of passes,
   so the speed of the code under test never changes which samples the
   medians are taken over.

Every output is checked outside the timed window.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``; the per-layer
metrics from a run with spans around each layer call with ``--trace
1``; that run prints its own end-to-end metrics on stderr, so the
tracing overhead can be read off against an untraced run).  See
``perfbench/NOTE.md`` for why each piece exists.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from dataclasses import dataclass

PACKAGE = "financial_data_ingestion_pipeline_spark"


@dataclass(frozen=True)
class Workload:
    tick_skew: float
    heaps_docs: bool


#: why each exists: BENCHMARK.json and NOTE.md
WORKLOADS = {
    # hot keys, much shared work: a few liquid names carry most ticks, and
    # the fixtures' fixed 31-word vocabulary saturates shingle frequencies
    "skewed": Workload(tick_skew=1.1, heaps_docs=False),
    # the same volume spread evenly, and a Heaps-law vocabulary
    "even": Workload(tick_skew=0.0, heaps_docs=True),
}

#: contract queries per family (``__spark_entry__.queries()`` names)
QUERY_FAMILIES = {
    # operators.asof; operators.analytics.price_change
    "tick": ["asof_hourly_close", "price_change"],
    # a broadcast join plan; operators.joins.pit_join over an
    # operators.analytics SCD2 history
    "sql": ["tpch_q3", "pit_features"],
    # functions.text BM25 fused with functions.similarity cosine top-k
    "search": ["hybrid_topk"],
    # functions.text, functions.dedup, functions.packing
    "text": ["lang_id", "dedup_exact", "shuffle_order"],
}
QUERIES = [q for qs in QUERY_FAMILIES.values() for q in qs]
MIN_PASSES = 2
PASS_BUDGET_S = 4.0
N_DAYS = 3
WARMUP_DAYS = 1
STREAM_DAYS = 1
TICKS_PER_DAY = 100_000
N_SYMBOLS = 200
FILES_PER_DAY = 3
DRIVER_MEMORY = "2g"
MEMORY_PROCESSES = {"java", "python", "python3"}
DAG_STAGES = ["ingest", "quality_reports", "load_warehouse", "analytics_outputs"]

END_TO_END = [
    ("setup_s", "s"), ("peak_rss_mb", "MB"), ("dag_p50_s", "s"),
    ("tick_queries_s", "s"), ("sql_queries_s", "s"), ("search_queries_s", "s"),
    ("text_queries_s", "s"), ("query_p50_s", "s"),
    ("stream_batch_p50_s", "s"), ("stream_ticks_per_s", "1/s"),
]
PER_LAYER = (
    [("session.get_spark_s", "s"), ("setup.generate_s", "s"),
     ("setup.warmup_s", "s"), ("calibration.cpu_probe_s", "s"),
     ("trace.overhead_s", "s"),
     ("dag.extract_s", "s")]
    + [(f"dag.{s}_s", "s") for s in DAG_STAGES]
    + [("dag.unattributed_s", "s")]
    + [(f"dag.{s}.{k}", "count") for s in DAG_STAGES for k in ("jobs", "tasks")]
    + [("dag.ticks_in", "count"), ("dag.warehouse_rows", "count"),
       ("dag.invalid_rows", "count"),
       ("stream.batches", "count"), ("stream.input_rows_p50", "count"),
       ("stream.add_batch_ms_p50", "ms"), ("stream.query_planning_ms_p50", "ms"),
       ("stream.commit_ms_p50", "ms"), ("stream.state_rows", "count"),
       ("stream.state_memory_bytes", "bytes")]
    + [(f"q.{q}_s", "s") for q in QUERIES]
    + [(f"q.{q}.jobs", "count") for q in QUERIES]
)


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from ``/proc``.  Each process
    counts its proportional set size, so pages that forked workers share
    with their parent count once.  Reading the JVM's ``smaps_rollup``
    takes about 17 ms of kernel time, hence the half-second interval."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _tree() -> set[int]:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as fh:
                        parent[int(name)] = int(fh.read().rsplit(")", 1)[1].split()[1])
                except OSError:
                    continue
        tree, frontier = {os.getpid()}, [os.getpid()]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        return tree

    def _tree_pss(self) -> int:
        total = 0
        for pid in self._tree():
            try:
                # a child the JVM forks to run a shell command shares the
                # JVM's memory until it execs, under the forking thread's
                # name: count only the JVM and Python processes themselves
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().strip() not in MEMORY_PROCESSES:
                        continue
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_pss())
            self._stop_evt.wait(self.interval)

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop_evt.set()
        self.join()
        self.peak_bytes = max(self.peak_bytes, self._tree_pss())
        return self.peak_bytes / 2**20


def start_session(work: str, cores: int):
    from financial_data_ingestion_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM it was launched in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    def __init__(self, args, work: str, repo_root: str):
        self.args = args
        self.work = work
        self.repo_root = repo_root
        self.workload = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.failures: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.tracer = None

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)

    # --- set-up -------------------------------------------------------------
    def setup(self) -> float:
        """Generate the inputs while the Spark session starts (the JVM
        launch is mostly waiting); returns the wall time of both."""
        from perfbench import inputs, tickdrop

        spec = tickdrop.DaySpec(
            n_symbols=N_SYMBOLS, ticks_per_day=TICKS_PER_DAY, skew=self.workload.tick_skew
        )
        session: dict = {}

        def start() -> None:
            t = time.perf_counter()
            try:
                session["spark"] = start_session(self.work, len(os.sched_getaffinity(0)))
            except Exception as e:  # re-raised by the main thread below
                session["error"] = e
            self.layer["session.get_spark_s"] = time.perf_counter() - t

        t0 = time.perf_counter()
        starter = threading.Thread(target=start)
        starter.start()
        try:
            self.inputs = inputs.make_inputs(
                os.path.join(self.work, "in"), self.args.seed, spec, N_DAYS,
                STREAM_DAYS, FILES_PER_DAY, self.workload.heaps_docs, self.repo_root,
            )
            self.layer["setup.generate_s"] = time.perf_counter() - t0
        finally:
            starter.join()
            self.spark = session.get("spark")
        if "error" in session:
            raise session["error"]
        return time.perf_counter() - t0

    def check_queries(self) -> dict[str, list[str]]:
        """The query mix's warm-up: every query's result compared with its
        DuckDB oracle.  This first execution pays the plan's code
        generation; the timed passes are its second and later ones."""
        import __spark_entry__ as contract
        from financial_data_ingestion_pipeline_spark.session import evict_persisted

        from perfbench.checks import check_query

        self.queries = contract.queries()
        oracles = contract.oracle_sql()
        problems = {}
        for name in QUERIES:
            try:
                problems[name] = check_query(
                    self.queries[name](self.spark, self.inputs.sf_dir),
                    oracles[name], self.inputs.sf_dir,
                )
            except Exception as e:  # a failing query is a failed op, not a crash
                problems[name] = [f"{type(e).__name__}: {e}"]
            evict_persisted()
        return problems

    # --- measured ops -------------------------------------------------------
    def run_dag(self, days: range) -> list[float]:
        """One DAG run per day; returns the times of those that succeeded."""
        from financial_data_ingestion_pipeline_spark.plans import pipeline
        from financial_data_ingestion_pipeline_spark.sources import ingest

        times = []
        for i in days:
            day = self.inputs.days[i]
            self.attempted += 1
            extracted = os.path.join(self.work, "extracted", day.folder)
            out = os.path.join(self.work, "dag", day.folder)
            if self.tracer:
                self.tracer.op = f"dag:{i}"
            t0 = time.perf_counter()
            try:
                ingest.extract_zip_files(self.inputs.drop_dirs[i], extracted)
                pipeline.run_pipeline(self.spark, pipeline.PipelineConfig(
                    tick_root=extracted, bhavcopy_csv=self.inputs.bhavcopies[i],
                    out_dir=out,
                ))
            except Exception:
                self.fail(f"dag day {i}: {traceback.format_exc(limit=3)}")
                continue
            times.append(time.perf_counter() - t0)
            self.dag_outputs.append((i, extracted, out))
        return times

    def run_stream(self):
        from financial_data_ingestion_pipeline_spark.schemas import WAREHOUSE_SCHEMA
        from financial_data_ingestion_pipeline_spark.streaming import ohlc_stream
        from pyspark.errors import StreamingQueryException

        self.attempted += 1
        self.mv_dir = os.path.join(self.work, "stream", "ohlc")
        t0 = time.perf_counter()
        stream = ohlc_stream.stream_ticks(
            self.spark, self.inputs.backlog_dir, schema=WAREHOUSE_SCHEMA,
            max_files_per_trigger=1,
        )
        agg = ohlc_stream.streaming_ohlc(
            ohlc_stream.dedup_ticks_stream(stream), watermark=None
        )
        query = ohlc_stream.write_ohlc_table(
            agg, self.mv_dir, os.path.join(self.work, "stream", "checkpoint")
        )
        try:
            query.awaitTermination()
        except StreamingQueryException as e:
            self.fail(f"stream: {e}")
            return None, time.perf_counter() - t0
        wall = time.perf_counter() - t0
        return [p for p in query.recentProgress if p["numInputRows"] > 0], wall

    def run_queries(self, n_passes: int) -> list[dict[str, float]]:
        from financial_data_ingestion_pipeline_spark.session import evict_persisted

        passes = []
        for _ in range(n_passes):
            order = QUERIES[:]
            self.rng.shuffle(order)
            lat = {}
            for name in order:
                self.attempted += 1
                if self.tracer:
                    self.tracer.op = f"q:{name}:{len(passes)}"
                t0 = time.perf_counter()
                try:
                    if self.tracer:
                        with self.tracer.span(f"q.{name}"):
                            self._run_query(name)
                    else:
                        self._run_query(name)
                except Exception:
                    self.fail(f"query {name}: {traceback.format_exc(limit=3)}")
                    continue
                lat[name] = time.perf_counter() - t0
                evict_persisted()
                if self.query_problems[name]:
                    self.fail(f"query {name}: {self.query_problems[name]}")
            passes.append(lat)
        return passes

    def _run_query(self, name: str) -> None:
        self.queries[name](self.spark, self.inputs.sf_dir).write.format(
            "noop").mode("overwrite").save()

    # --- the run ------------------------------------------------------------
    def execute(self) -> dict:
        from perfbench.stats import median, supported_percentile

        setup_s = self.setup()
        # warm-up, part of set-up: the first DAG day and the query
        # warm-up pay the JVM's start and each plan's code generation
        # (the query warm-up also checks every result against its
        # oracle)
        t0 = time.perf_counter()
        self.dag_outputs = []
        self.run_dag(range(WARMUP_DAYS))
        self.query_problems = self.check_queries()
        self.layer["setup.warmup_s"] = time.perf_counter() - t0
        setup_s += self.layer["setup.warmup_s"]

        if self.args.trace:
            self.install_tracer()
        rss = RssSampler()
        rss.start()
        start = time.perf_counter()
        dag_times = self.run_dag(range(WARMUP_DAYS, N_DAYS))
        t_dag = time.perf_counter()
        progress, stream_wall = self.run_stream()
        t_stream = time.perf_counter()
        passes = self.run_queries(
            max(MIN_PASSES, round(self.args.seconds / PASS_BUDGET_S)))
        t_end = time.perf_counter()
        peak_rss_mb = rss.stop()
        if self.tracer:
            self.tracer.unwrap_all()

        t_check = time.perf_counter()
        self.check_dag()
        if progress is not None:
            self.check_stream()
        t_check = time.perf_counter() - t_check

        if not dag_times or not progress or not any(passes):
            raise RuntimeError("no successful op for a metric: " + "; ".join(self.failures))
        lat_all = [v for p in passes for v in p.values()]
        batch_s = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
        ticks = sum(p["numInputRows"] for p in progress)
        e2e = {
            "setup_s": setup_s,
            "peak_rss_mb": peak_rss_mb,
            "dag_p50_s": median(dag_times),
            "query_p50_s": median(lat_all),
            "stream_batch_p50_s": median(batch_s),
            "stream_ticks_per_s": ticks / stream_wall,
        }
        for fam, names in QUERY_FAMILIES.items():
            e2e[f"{fam}_queries_s"] = median(
                [sum(p[n] for n in names if n in p) for p in passes]
            )
        # the samples behind the medians, for a reader of the log; no
        # percentile above the median has ten query executions beyond it
        # unless the run holds 100 or more
        print(
            f"phases_s get_spark={self.layer['session.get_spark_s']:.1f} "
            f"generate={self.layer['setup.generate_s']:.1f} "
            f"warmup={self.layer['setup.warmup_s']:.1f} dag={t_dag - start:.1f} "
            f"stream={t_stream - t_dag:.1f} queries={t_end - t_stream:.1f} "
            f"checks={t_check:.1f}; dag_s={[round(t, 2) for t in dag_times]} "
            f"batch_s={batch_s} pass_s={[round(sum(p.values()), 2) for p in passes]} "
            f"query_executions={len(lat_all)} "
            f"supported_percentile={supported_percentile(len(lat_all))}",
            file=sys.stderr,
        )
        if self.tracer:
            from tools.calibration import cpu_probe_s

            # the traced run's own end-to-end figures: minus an untraced
            # run's, they are the tracing overhead
            print("traced end_to_end " + json.dumps(
                {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}), file=sys.stderr)
            self.layer["calibration.cpu_probe_s"] = cpu_probe_s(self.spark)
            self.layer_metrics(progress, passes)
            return {k: (self.layer[k], u) for k, u in PER_LAYER}
        return {k: (e2e[k], u) for k, u in END_TO_END}

    # --- checks ---------------------------------------------------------------
    def check_dag(self) -> None:
        from perfbench.checks import check_dag_day

        self.dag_counts = []
        for i, extracted, out in self.dag_outputs:
            try:
                problems, counts = check_dag_day(extracted, self.inputs.bhavcopies[i], out)
            except Exception as e:
                problems, counts = [f"{type(e).__name__}: {e}"], None
            if problems:
                self.fail(f"dag day {i}: {problems}")
            else:
                self.dag_counts.append(counts)

    def check_stream(self) -> None:
        from perfbench.checks import check_stream

        problems = check_stream(self.spark, self.inputs.backlog_dir, self.mv_dir)
        if problems:
            self.fail(f"stream: {problems}")

    # --- tracing ----------------------------------------------------------------
    def install_tracer(self) -> None:
        from financial_data_ingestion_pipeline_spark.plans import pipeline
        from financial_data_ingestion_pipeline_spark.sources import ingest

        from perfbench.trace import Tracer

        self.tracer = Tracer(self.spark.sparkContext)
        self.tracer.wrap(ingest, "extract_zip_files", "dag.extract")
        self.tracer.wrap(pipeline, "run_pipeline", "dag.run_pipeline")
        for stage in DAG_STAGES:
            self.tracer.wrap(pipeline, stage, f"dag.{stage}")

    def layer_metrics(self, progress: list[dict], passes: list[dict]) -> None:
        from perfbench.stats import median, self_times

        spans = self.tracer.spans
        own = self_times(spans)

        def per_op(name: str, value) -> list[float]:
            return [value(s) for s in spans if s["name"] == name]

        L = self.layer
        L["dag.extract_s"] = median(per_op("dag.extract", lambda s: own[s["id"]]))
        L["dag.unattributed_s"] = median(per_op("dag.run_pipeline", lambda s: own[s["id"]]))
        for stage in DAG_STAGES:
            L[f"dag.{stage}_s"] = median(per_op(f"dag.{stage}", lambda s: own[s["id"]]))
            for k in ("jobs", "tasks"):
                L[f"dag.{stage}.{k}"] = median(
                    per_op(f"dag.{stage}", lambda s: self.tracer.total(s, k)))
        L["dag.ticks_in"] = median([len(d.symbol) for d in self.inputs.days])
        L["dag.warehouse_rows"] = median([c["warehouse_rows"] for c in self.dag_counts])
        L["dag.invalid_rows"] = median([c["invalid_rows"] for c in self.dag_counts])

        def dur(p, key):
            return p["durationMs"].get(key, 0)

        L["stream.batches"] = len(progress)
        L["stream.input_rows_p50"] = median([p["numInputRows"] for p in progress])
        L["stream.add_batch_ms_p50"] = median([dur(p, "addBatch") for p in progress])
        L["stream.query_planning_ms_p50"] = median([dur(p, "queryPlanning") for p in progress])
        L["stream.commit_ms_p50"] = median([dur(p, "commitOffsets") for p in progress])
        last = progress[-1]["stateOperators"]
        L["stream.state_rows"] = sum(op["numRowsTotal"] for op in last)
        L["stream.state_memory_bytes"] = sum(op["memoryUsedBytes"] for op in last)

        for q in QUERIES:
            L[f"q.{q}_s"] = median([p[q] for p in passes if q in p])
            L[f"q.{q}.jobs"] = median(per_op(f"q.{q}", lambda s: self.tracer.total(s, "jobs")))
        L["trace.overhead_s"] = self.tracer.bookkeeping_s
        self.tracer.dump(os.path.join(
            os.path.dirname(self.work),
            f"spans-{self.args.workload}-{self.args.seed}.json",
        ))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    repo_root = os.getcwd()
    if not os.path.isdir(os.path.join(repo_root, PACKAGE)):
        print(f"perfbench: run from the repository root ({PACKAGE}/ not found)",
              file=sys.stderr)
        return 2
    work = os.path.join(repo_root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every temporary file of the run (package zip, Spark, Python
    # workers) stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # the package under test, ``tools/``, ``tests/`` and this package
    # itself are imported from the checkout root
    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)

    run = Run(args, work, repo_root)
    try:
        metrics = run.execute()
    finally:
        if getattr(run, "spark", None) is not None:
            stop_session(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    for f in run.failures:
        print(f"FAILED {f}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
