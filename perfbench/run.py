"""Benchmark of the boundary-conflation engine: one workload per run, by seed.

    python3 perfbench/run.py --workload geotag_pages --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. A run writes the seed's sf directory
(once per seed), starts the JVM with an untimed boot session in which the
engine materializes the OSM worlds it needs from those tables, then times
``N_SETUPS`` set-ups (session build plus opening the inputs).

With ``--trace 0`` it times one cold iteration, runs one untimed
iteration that collects and is checked against DuckDB (it is also the
warm-up), times warm iterations for ``--seconds`` (at least
``MIN_TIMED``) and reports the end-to-end metrics. With ``--trace 1`` it
runs the per-layer probe pass (layers.py), then the workload's iteration
without and with spans, and reports the per-layer metrics and the
tracing overhead. Every iteration starts with the cache cleared. The last
line of standard output is one JSON object; the line before it records
the environment, input properties, phase times and raw timings.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
PACKAGE = "osm_admin_boundary_conflation_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEMORY = "2g"
# JVM flags of the run environment. Whole-stage codegen keeps the JIT busy in
# every iteration; with default thread counts JIT and GC threads compete with
# the task threads and Python workers for the host's CPUs. The heap is
# committed and touched up front, so resident memory does not depend on when
# the collector happened to grow the heap.
JVM_FLAGS = "-XX:CICompilerCount=2 -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:+AlwaysPreTouch"
N_SETUPS = 5
MIN_TIMED = 2
# untraced/traced iteration pairs of the traced run, for the tracing overhead
OVERHEAD_PAIRS = {"geotag_pages": 2, "boundary_pipeline": 1}


def pin_env() -> dict:
    """Fix the run environment before the JVM starts; return it for the record."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        # Spark's Python workers import the engine from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        # the engine's 12g default heap leaves too little of a small host to the Python workers
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    nproc = len(os.sched_getaffinity(0))
    return {"master": f"local[{min(2, nproc)}]", "nproc": nproc, **env}


class Sessions:
    """Builds the engine's session; stops it and the JVM it started."""

    def __init__(self, master: str):
        self.master = master
        self.spark = None

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def build(self):
        from osm_admin_boundary_conflation_spark.session import build_session

        self.spark = build_session(
            app_name="perfbench",
            master=self.master,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} {JVM_FLAGS} -Djava.io.tmpdir={os.environ['TMPDIR']}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)


def materialize_worlds(spark, sf_dir: str, out_dir: str, names: tuple[str, ...]) -> None:
    """Let the engine write its OSM worlds from the seed's tables (untimed, in the boot session).

    Rewritten in every run, so the JVM has done the same work before set-up
    whether or not an earlier run used the same seed.
    """
    from osm_admin_boundary_conflation_spark import datagen_osm

    writers = {"world": datagen_osm.materialize_osm_world, "strip": datagen_osm.materialize_strip_world}
    for name in names:
        writers[name](spark, sf_dir, os.path.join(out_dir, name))
    os.environ["SPARK_GRAFT_WORLD_DIR"] = os.path.join(out_dir, "world")
    os.environ["SPARK_GRAFT_STRIP_DIR"] = os.path.join(out_dir, "strip")


def run(args) -> dict:
    import inputs
    import spans
    import workloads

    phases: dict[str, float] = {}
    mark = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = round(now - mark[0], 3)
        mark[0] = now

    env = pin_env()
    sf_dir, props = inputs.generate(os.path.join(WORK, "inputs"), args.seed)
    phase("inputs")
    wl = workloads.WORKLOADS[args.workload]()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = spans.Tracer(run_id, enabled=bool(args.trace))
    untraced = spans.Tracer(run_id, enabled=False)
    sessions = Sessions(env["master"])
    peak_rss = 0.0
    setup_s: list[float] = []
    iters: list[float] = []
    failed = attempted = 0

    def iteration(i: int, traced: bool = True, sink=workloads.noop) -> tuple[float, list | None]:
        """One operation; returns its wall seconds (NaN when it failed) and its sink's results."""
        nonlocal failed, attempted, peak_rss
        sessions.spark.catalog.clearCache()
        attempted += 1
        t0 = time.perf_counter()
        try:
            cached = sql.cached_relations()
            if cached:
                raise RuntimeError("a cached relation survived clearCache")
            tr = tracer if traced else untraced
            with tr.span("iteration", i=i, cached_relations=cached):
                out = wl.iterate(inp, tr, sink)
            dt = time.perf_counter() - t0
        except Exception as e:  # a failed iteration is a failed operation; keep measuring
            print(f"iteration {i} failed: {e!r}", file=sys.stderr)
            failed += 1
            dt, out = float("nan"), None
        peak_rss = max(peak_rss, spans.tree_peak_rss_mb())
        return dt, out

    def check(outputs) -> int:
        """Rows by which the collected outputs miss the DuckDB expectation (untimed)."""
        sessions.spark.catalog.clearCache()
        return 1 if outputs is None else wl.check(inp, outputs, oracle)

    worlds = os.path.join(WORK, "worlds", run_id)
    try:
        boot = sessions.build()
        if args.trace:
            materialize_worlds(boot, sf_dir, worlds, ("world", "strip"))
        elif args.workload == "boundary_pipeline":
            materialize_worlds(boot, sf_dir, worlds, ("world",))
        phase("boot")
        for k in range(N_SETUPS):
            sessions.stop()
            t0 = time.perf_counter()
            with tracer.span("setup", k=k):
                with tracer.span("session.build"):
                    spark = sessions.build()
                with tracer.span("sources.open"):
                    inp = wl.open(spark, sf_dir)
            setup_s.append(time.perf_counter() - t0)
        sql = spans.SqlMetrics(spark)
        oracle = workloads.Oracle(sf_dir)
        phase("setup")

        if args.trace:
            metrics, bad = traced(args, inp, spark, sf_dir, tracer, sql, oracle, iteration)
        else:
            cold_s = iteration(0)[0]
            phase("cold")
            # the checked iteration collects instead; untimed, it is also the warm-up:
            # the first warm iteration of a session is still slow while the JIT catches up
            bad = check(iteration(1, sink=workloads.collect)[1])
            phase("check")
            t_start = time.perf_counter()
            while time.perf_counter() - t_start < args.seconds or len(iters) < MIN_TIMED:
                iters.append(iteration(2 + len(iters))[0])
            phase("timed")
            ok = [t for t in iters if t == t]
            metrics = {
                "rows_per_s": (wl.input_rows(props) / statistics.median(ok), "rows/s"),
                "cold_s": (cold_s, "s"),
                "setup_s": (statistics.median(setup_s), "s"),
                "peak_rss_mb": (peak_rss, "MB"),
            }
        if bad:
            print(f"output check failed: {bad} rows differ from the DuckDB expectation", file=sys.stderr)
            failed = attempted
    finally:
        sessions.close()
        shutil.rmtree(worlds, ignore_errors=True)
        tracer.write(os.path.join(WORK, "traces", f"{run_id}.json"))
        phase("close")
    print(json.dumps({"env": env, "inputs": props, "phases_s": phases, "setup_s": setup_s, "iterations_s": iters}))
    return {
        "correct": bad == 0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def traced(args, inp, spark, sf_dir, tracer, sql, oracle, iteration) -> tuple[dict, int]:
    """Probe every layer, then run the workload's iteration without and with spans."""
    import layers
    import spans
    import workloads

    from osm_admin_boundary_conflation_spark import datagen_osm

    full = {"spark": spark, "strip": datagen_osm.build_strip_world(spark, sf_dir), **inp}
    for other in workloads.WORKLOADS.values():
        full.update({k: v for k, v in other().open(spark, sf_dir).items() if k not in full})
    probed, bad = layers.probe(full, tracer, sql, oracle, WORK)
    m = {k: (v, _unit(k)) for k, v in probed.items()}

    plain, with_spans = [], []
    for i in range(OVERHEAD_PAIRS[args.workload]):
        plain.append(iteration(2 * i, traced=False)[0])
        group = f"{tracer.run_id}-{i}"
        spark.sparkContext.setJobGroup(group, group)
        before, cpu0, steal0, t0 = sql.last_id(), spans.tree_cpu_s(), spans.steal_s(), time.perf_counter()
        with_spans.append(iteration(2 * i + 1)[0])
        cpu, steal = spans.tree_cpu_s() - cpu0, spans.steal_s() - steal0
        steal_pct = 100.0 * steal / ((time.perf_counter() - t0) * os.cpu_count())
        jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        rows = sql.node_metrics(sql.since(before))
    tot = spans.SqlMetrics.total
    m["functions.python_rows"] = (tot(rows, "ArrowEvalPython", "number of output rows"), "count")
    m["functions.python_bytes_sent"] = (tot(rows, "ArrowEvalPython", "data sent to Python workers"), "bytes")
    m["functions.python_bytes_received"] = (tot(rows, "ArrowEvalPython", "data returned from Python workers"), "bytes")
    m["spark.jobs_per_iter"] = (jobs, "count")
    m["spark.cached_relations_at_iter_start"] = (
        max(s["attrs"]["cached_relations"] for s in tracer.spans if s["name"] == "iteration"),
        "count",
    )
    m["host.cpu_s_per_iter"] = (cpu, "s")
    m["host.steal_pct"] = (steal_pct, "%")
    p, t = statistics.median(plain), statistics.median(with_spans)
    m["trace.overhead_pct"] = (100.0 * (t - p) / p, "%")
    return m, bad


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_bytes", "bytes_written")):
        return "bytes"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["geotag_pages", "boundary_pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE}/ in {ROOT}: run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    print(json.dumps(run(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
