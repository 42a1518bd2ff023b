"""spark-tio benchmark: closed loop, one client, checked results.

    python3 perfbench/run.py --workload geo_points --seed 1 --seconds 5 --trace 0

Each run starts one SparkSession (``plans.session.build_session``, at
most 4 cores), runs the workload's queries one at a time from this
single driver process, checks every result against its DuckDB oracle
digest (``oracle.py``), and prints as its last stdout line one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

- ``--trace 0``: the end-to-end metrics (setup_s, query_s_p50,
  query_s_p90, rows_per_s, ok_frac).
- ``--trace 1``: the per-layer metrics.  Passes alternate between
  traced and untraced executions; traced ones split each execution
  into build / plan / action spans and read Spark's status store
  under a fresh job group per execution (``spans.py``).

The seed permutes the query order within each pass; the inputs are
the fixed test tables of TESTDATA.md, which the run only reads.  All
the run writes (Spark local dirs, the sweep's tables, the per-run
artifact with every execution record and span) goes to
``.bench_build/`` in the checkout.  See README.md in this directory
for the metric definitions and the layer -> metric -> workload map.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import pickle
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

from oracle import DATA_ROOT, SWEEP_ZOOM, digest, expected  # noqa: E402
from spans import SparkProbe, Tracer, covered_time  # noqa: E402

MIN_PASSES = 2
SWEEP_UNITS = 8
KERNEL_BATCH = 65536  # the session's spark.sql.execution.arrow.maxRecordsPerBatch


@dataclass(frozen=True)
class Workload:
    sf: str
    queries: tuple[str, ...]
    sweep: bool = False


# Why each workload exists: see README.md ("Workloads").
WORKLOADS = {
    "geo_points": Workload(
        "sf0.01",
        ("region_join_bcast", "region_join_salted", "tile_counts",
         "pip_triangle", "knn_city_assign"),
        sweep=True,
    ),
    "composite_barriers": Workload(
        "sf0.01",
        ("curation_funnel", "grid_dbscan", "gc_waypoints", "pricing_summary"),
    ),
    "python_kernels": Workload(
        "sf0.01", ("tin_transform", "poly_roundtrip", "loo_residuals"),
    ),
}

# Source tables each query scans; their row counts are the input size
# behind rows_per_s.  loo_residuals reads only the literal GCP table.
SOURCE_TABLES = {
    "region_join_bcast": ("lineitem", "nation"),
    "region_join_salted": ("lineitem", "nation"),
    "tile_counts": ("lineitem",),
    "pip_triangle": ("lineitem", "nation"),
    "knn_city_assign": ("lineitem",),
    "curation_funnel": ("documents",),
    "grid_dbscan": ("lineitem",),
    "gc_waypoints": ("lineitem",),
    "pricing_summary": ("lineitem",),
    "tin_transform": ("lineitem",),
    "poly_roundtrip": ("lineitem",),
    "loo_residuals": (),
}

# Per-execution counters summed over a workload's queries (each query
# contributes the median over its traced executions).
SUMMED = (
    "build.s", "build.jobs", "plan.s", "action.s", "collect.rows",
    "collect.result_bytes", "spark.jobs", "spark.stages",
    "spark.stages_skipped", "spark.tasks", "spark.tasks_failed",
    "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
    "spark.driver_gap_s", "shuffle.write_bytes", "shuffle.read_bytes",
    "shuffle.spill_bytes", "sources.input_bytes", "python.exec_nodes",
    "python.bytes_sent", "python.bytes_received",
)


def metric_units(trace: bool) -> dict[str, str]:
    """Names and units, in output order, of the metrics a run reports:
    BENCHMARK.json's per-layer list when traced, else its end-to-end
    list."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (driver JVM, Python workers), sampled from /proc."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def run(self) -> None:
        while not self._done.wait(self.period):
            self.peak = max(self.peak, self.sample())

    def stop(self) -> None:
        self._done.set()
        self.join()
        self.peak = max(self.peak, self.sample())

    def sample(self) -> int:
        total = 0
        for pid in process_tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def canary() -> float:
    """A short fixed numpy job (median of 3 sorts of 1M doubles): read
    beside the load average, it shows a contended host in the run's own
    record."""
    import numpy as np

    a = np.random.default_rng(0).random(1_000_000)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        np.sort(a)
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def stamp() -> dict:
    return {"loadavg": list(os.getloadavg()), "canary_s": canary(),
            "steal_s": steal_s()}


def p90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[8]


class Bench:
    def __init__(self, workload: str, seed: int, trace: bool):
        self.name = workload
        self.wl = WORKLOADS[workload]
        self.sf_dir = os.path.join(DATA_ROOT, self.wl.sf)
        self.rng = random.Random(seed)
        self.trace = trace
        self.records: list[dict] = []
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self._ids = itertools.count()
        self.tracer = Tracer(time.time() - time.perf_counter())
        self.run_token = f"{workload}-{seed}-{os.getpid()}"

    # -- set-up -------------------------------------------------------
    def prepare(self) -> None:
        """Untimed: oracle digests and input sizes, before Spark starts."""
        import pyarrow.parquet as pq

        names = list(self.wl.queries)
        if self.wl.sweep and self.trace:
            names.append("tile_sweep")
        self.expected = expected(names, self.wl.sf)
        rows = {}
        for q in self.wl.queries:
            for t in SOURCE_TABLES[q]:
                if t not in rows:
                    rows[t] = pq.read_metadata(f"{self.sf_dir}/{t}.parquet").num_rows
        self.table_rows = rows
        self.input_rows = {
            q: sum(rows[t] for t in SOURCE_TABLES[q]) for q in self.wl.queries
        }

    def setup(self) -> float:
        """Session start + ensure_shipped + one cold execution of each
        query; returns the set-up seconds (result checks excluded)."""
        import __spark_entry__
        from transformio_spark.plans.session import build_session, ensure_shipped

        t0 = time.perf_counter()
        cores = min(4, len(os.sched_getaffinity(0)))
        self.spark = build_session(
            app_name="perfbench", cores=cores,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        ensure_shipped(self.spark)
        setup = time.perf_counter() - t0
        self.layer["session.start_s"] = t1 - t0
        self.queries = __spark_entry__.queries()
        self.probe = SparkProbe(self.spark)
        for q in self.order():
            setup += self.execute(q, traced=False, phase="cold")["wall_s"]
        return setup

    def order(self) -> list[str]:
        return self.rng.sample(self.wl.queries, len(self.wl.queries))

    # -- executions ---------------------------------------------------
    def execute(self, query: str, traced: bool, phase: str) -> dict:
        exec_id = next(self._ids)
        group = f"perfbench-{self.run_token}-{exec_id}"
        self.spark.sparkContext.setJobGroup(group, f"{self.name}:{query}")
        rec = {"exec_id": exec_id, "query": query, "phase": phase,
               "traced": traced}
        self.attempted += 1
        try:
            fn = self.queries[query]
            if traced:
                df, rows = self._traced(fn, group, exec_id, rec)
            else:
                t0 = time.perf_counter()
                df = fn(self.spark, self.sf_dir)
                rows = df.collect()
                rec["wall_s"] = time.perf_counter() - t0
            n, h = digest(df.columns, [tuple(r) for r in rows])
            want = self.expected[query]
            rec["ok"] = (n, h) == (want["rows"], want["digest"])
            if not rec["ok"]:
                print(f"perfbench: {query} result differs from its oracle "
                      f"({n} rows vs {want['rows']})", file=sys.stderr)
        except Exception:
            traceback.print_exc()
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=3)
            rec.setdefault("wall_s", float("nan"))
        if not rec["ok"]:
            self.failed += 1
        self.records.append(rec)
        return rec

    def _traced(self, fn, group: str, exec_id: int, rec: dict):
        probe, tr = self.probe, self.tracer
        t0 = time.perf_counter()
        df = fn(self.spark, self.sf_dir)
        t1 = time.perf_counter()
        build_jobs = probe.job_ids(group)
        t1b = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        plan_jobs = probe.job_ids(group) - build_jobs
        t2b = time.perf_counter()
        rows = df.collect()
        t3 = time.perf_counter()
        probe.drain()
        action_jobs = probe.job_ids(group) - build_jobs - plan_jobs

        qspan = tr.add(None, exec_id, "query", t0, t3, query=rec["query"])
        c: dict[str, float] = {}
        for name, (s, e), jobs in (
            ("build", (t0, t1), build_jobs),
            ("plan", (t1b, t2), plan_jobs),
            ("action", (t2b, t3), action_jobs),
        ):
            span = tr.add(qspan, exec_id, name, s, e)
            counters, intervals, skew = probe.jobs(jobs, tr, span, exec_id)
            for k, v in counters.items():
                c[k] = c.get(k, 0.0) + v
            c["spark.task_skew"] = max(c.get("spark.task_skew", 0.0), skew)
            c[f"{name}.s"] = e - s
            if name == "build":
                c["build.jobs"] = len(jobs)
            if name == "action":
                c["spark.driver_gap_s"] = (e - s) - covered_time(intervals, s, e)
                c["action.executor_run_s"] = counters["spark.executor_run_s"]
        c.update(probe.python_nodes(df))
        c["collect.rows"] = len(rows)
        c["collect.result_bytes"] = len(pickle.dumps(rows))
        rec["wall_s"] = t3 - t0
        rec["counters"] = c
        return df, rows

    def measure(self, seconds: float) -> None:
        """Warm passes over the seeded query order until ``seconds``
        have passed (at least MIN_PASSES).  With tracing, each step is a
        traced and an untraced pass, in alternating order."""
        t0 = time.perf_counter()
        step = 0
        while step < MIN_PASSES or time.perf_counter() - t0 < seconds:
            if self.trace:
                modes = (True, False) if step % 2 == 0 else (False, True)
            else:
                modes = (False,)
            for traced in modes:
                for q in self.order():
                    self.execute(q, traced=traced, phase="warm")
            step += 1

    # -- once-per-run layer probes (traced runs) ------------------------
    def probe_layers(self) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from transformio_spark.plans import queries as Q

        self.spark.sparkContext.setJobGroup(
            f"perfbench-{self.run_token}-probe", f"{self.name}:layer-probes")
        t0 = time.perf_counter()
        for t in self.table_rows:
            self.spark.read.parquet(f"{self.sf_dir}/{t}.parquet") \
                .write.format("noop").mode("overwrite").save()
        self.layer["sources.scan_s"] = time.perf_counter() - t0

        obs = Observation("perfbench_prefix")
        t0 = time.perf_counter()
        Q.points_df(self.spark, self.sf_dir).observe(
            obs, F.count(F.lit(1)).alias("n")
        ).write.format("noop").mode("overwrite").save()
        self.layer["prefix.points_s"] = time.perf_counter() - t0
        self.layer["prefix.rows"] = obs.get["n"]

        self.layer.update(kernel_batch_times())
        sweep = dict.fromkeys(
            ("pipeline.sweep_s", "pipeline.jobs_per_unit",
             "catalog.bytes_written", "catalog.files_written"), 0.0)
        if self.wl.sweep:
            sweep = self.tile_sweep()
        self.layer.update(sweep)

    def tile_sweep(self) -> dict:
        """One TileSweepPipeline stage over the points prefix, written
        into a fresh root and run_id, read back and checked."""
        from pyspark.sql import functions as F
        from transformio_spark.functions import tiles
        from transformio_spark.plans import queries as Q
        from transformio_spark.plans.pipeline import TileSweepPipeline

        root = os.path.join(BUILD, "sweep", self.run_token)
        shutil.rmtree(root, ignore_errors=True)
        group = f"perfbench-{self.run_token}-sweep"
        self.spark.sparkContext.setJobGroup(group, f"{self.name}:tile_sweep")
        self.attempted += 1
        t0 = time.perf_counter()
        src = Q.points_df(self.spark, self.sf_dir).withColumn(
            "tile_id", tiles.tile_id(F.col("lon"), F.col("lat"), SWEEP_ZOOM)
        )
        pipe = TileSweepPipeline(self.spark, root, run_id=self.run_token)
        table = pipe.run_stage(
            "tilecount", src, "tile_id",
            TileSweepPipeline.tile_ranges(SWEEP_ZOOM, SWEEP_UNITS),
            lambda df: df.groupBy("tile_id").agg(F.count(F.lit(1)).alias("n")),
        )
        wall = time.perf_counter() - t0
        self.probe.drain()
        jobs = len(self.probe.job_ids(group))
        sizes = [
            os.path.getsize(os.path.join(dp, f))
            for dp, _dn, fns in os.walk(os.path.join(root, "tables"))
            for f in fns
        ]
        back = pipe.catalog.read(self.spark, table)
        n, h = digest(back.columns, [tuple(r) for r in back.collect()])
        want = self.expected["tile_sweep"]
        if (n, h) != (want["rows"], want["digest"]):
            print("perfbench: tile sweep read-back differs from its oracle",
                  file=sys.stderr)
            self.failed += 1
        shutil.rmtree(root, ignore_errors=True)
        return {
            "pipeline.sweep_s": wall,
            "pipeline.jobs_per_unit": jobs / SWEEP_UNITS,
            "catalog.bytes_written": sum(sizes),
            "catalog.files_written": len(sizes),
        }

    # -- metrics ------------------------------------------------------
    def end_to_end(self, setup_s: float) -> dict:
        warm = [r for r in self.records
                if r["phase"] == "warm" and not r["traced"] and r["ok"]]
        walls = [r["wall_s"] for r in warm]
        return {
            "setup_s": setup_s,
            "query_s_p50": statistics.median(walls),
            "query_s_p90": p90(walls),
            "rows_per_s": sum(self.input_rows[r["query"]] for r in warm) / sum(walls),
            "ok_frac": 1.0 - self.failed / self.attempted,
        }

    def per_layer(self) -> dict:
        traced = [r for r in self.records
                  if r["phase"] == "warm" and r["traced"] and "counters" in r]
        untraced = [r["wall_s"] for r in self.records
                    if r["phase"] == "warm" and not r["traced"]]
        per_query: dict[str, dict[str, float]] = {}
        for q in self.wl.queries:
            recs = [r["counters"] for r in traced if r["query"] == q]
            if recs:
                per_query[q] = {
                    k: statistics.median(c[k] for c in recs) for k in recs[0]
                }
        self.per_query = per_query
        out = dict(self.layer)
        for k in SUMMED:
            out[k] = sum(c[k] for c in per_query.values())
        run_s = sum(c["action.executor_run_s"] for c in per_query.values())
        out["spark.slot_busy_frac"] = run_s / (
            out["action.s"] * self.probe.cores)
        out["spark.task_skew"] = max(c["spark.task_skew"] for c in per_query.values())
        out["trace.overhead_s"] = (
            statistics.median(r["wall_s"] for r in traced)
            - statistics.median(untraced))
        out["trace.split_gap_frac"] = max(
            abs(r["wall_s"] - sum(r["counters"][f"{p}.s"]
                                  for p in ("build", "plan", "action")))
            / r["wall_s"]
            for r in traced)
        return out

    def shutdown(self) -> None:
        """Stop the session, the JVM and every process under this one."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while len(process_tree()) > 1 and time.time() < deadline:
            time.sleep(0.1)
        for pid in process_tree()[1:]:
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def kernel_batch_times() -> dict:
    """Driver-side predict time of the poly-2 and TIN kernels on one
    Arrow batch (median of 5): the kernel's share of a UDF crossing."""
    import numpy as np
    from transformio_spark.fixtures import CHINA22_GEOPOINTS, CHINA22_IMPOINTS
    from transformio_spark.kernels import Polynomial, from_json
    from transformio_spark.plans import queries as Q

    (ix, iy), (gx, gy) = zip(*CHINA22_IMPOINTS), zip(*CHINA22_GEOPOINTS)
    poly = Polynomial(order=2).fit(ix, iy, gx, gy)
    tin = from_json(json.loads(Q.tin_gate_model()[0]))
    rng = np.random.default_rng(0)
    x = np.floor(rng.uniform(Q.TIN_XLO, Q.TIN_XHI, KERNEL_BATCH))
    y = np.floor(rng.uniform(Q.TIN_YLO, Q.TIN_YHI, KERNEL_BATCH))
    out = {}
    for name, model in (("poly2", poly), ("tin", tin)):
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            model.predict(x, y)
            times.append(time.perf_counter() - t0)
        out[f"kernels.{name}_predict_s"] = statistics.median(times)
    return out


def use_checkout_temp_dirs() -> None:
    """Keep Spark's and the JVM's scratch files inside the checkout."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(BUILD, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "spark-local")
    os.environ["TMPDIR"] = os.path.join(BUILD, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')} -XX:-UsePerfData"
    )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in (os.path.join(ROOT, "transformio_spark"),
                           os.path.join(ROOT, "__spark_entry__.py"),
                           os.path.join(DATA_ROOT, WORKLOADS[args.workload].sf))
               if not os.path.exists(p)]
    if missing:
        print(f"perfbench: missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    use_checkout_temp_dirs()

    bench = Bench(args.workload, args.seed, bool(args.trace))
    before = stamp()
    bench.prepare()
    sampler = RssSampler()
    sampler.start()
    try:
        setup_s = bench.setup()
        bench.measure(args.seconds)
        if bench.trace:
            bench.probe_layers()
            spans = bench.tracer.to_json()
            self_times = bench.tracer.self_times()
    finally:
        if hasattr(bench, "spark"):
            bench.shutdown()
        sampler.stop()
    after = stamp()

    if bench.trace:
        values = bench.per_layer()
        values.update({
            "host.canary_before_s": before["canary_s"],
            "host.canary_after_s": after["canary_s"],
            "host.loadavg_before": before["loadavg"][0],
            "host.loadavg_after": after["loadavg"][0],
            "host.steal_s": after["steal_s"] - before["steal_s"],
            "host.peak_rss_mb": sampler.peak / 2**20,
        })
    else:
        values = bench.end_to_end(setup_s)
    metrics = {m: {"value": values[m], "unit": u}
               for m, u in metric_units(bench.trace).items()}

    artifact = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": bench.wl.sf, "stamp_before": before,
        "stamp_after": after, "peak_rss_mb": sampler.peak / 2**20,
        "input_rows": bench.input_rows,
        "records": bench.records, "metrics": metrics,
    }
    if bench.trace:
        artifact.update(per_query=bench.per_query, spans=spans,
                        self_time_s=self_times)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    path = os.path.join(
        BUILD, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1, default=str)

    print(json.dumps({"stamp_before": before, "stamp_after": after,
                      "artifact": os.path.relpath(path, ROOT)}))
    print(json.dumps({"correct": bench.failed == 0,
                      "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
