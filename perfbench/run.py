"""aroma_spark benchmark: one process, one client, closed loop, local[nproc].

Run from the repository root:

    python3 perfbench/run.py --workload production --seed 1 --seconds 5 --trace 0
    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 5 --trace 1

After the session starts, set-up (the inputs generated from
``--seed``) runs ``SETUP_REPS`` times; ``setup_s`` is the median. An
untimed warm-up then warms the JVM (JIT, codegen) and the Python
workers while the references are computed beside it, and warm
iterations are timed, one call at a time, until ``--seconds`` have
passed (at least one). Every call, the warm-up's too, is checked
against its reference; a call that raises or fails its check counts in
``failed``. The last stdout line is the result JSON. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` goes on to the per-layer
run (see ``traced``) and reports the per-layer metrics instead. Metric
names and units come from ``BENCHMARK.json``; ``perfbench/METRICS.md``
says what each one means.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
DRIVER_MEM = "4g"
# walls (s since start) past which a run stops adding work, so that it
# ends within 180 s also in a busy window of the host
RUN_BUDGET_S = 150  # no further timed iteration
SCALING_BUDGET_S = 130  # traced run: no local[1] build


def _mark(t_run0: float, what: str) -> None:
    """A progress line: seconds since the run started, and what ended."""
    print(f"at {time.time() - t_run0:.1f} s: {what}", flush=True)


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


class Ctx:
    """Run-wide state: paths, the seed, the live Spark session and a
    DuckDB connection for references."""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.spark = None
        self.con = None

    def open_spark(self, master: str | None = None, event_log: str | None = None):
        """Start a session; the previous one must be stopped first, so
        two sessions never run at once."""
        from aroma_spark.session import get_spark

        assert self.spark is None
        conf = {
            "spark.local.dir": f"{self.work}/local",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{event_log}",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark("perfbench", master=master, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def prepare_env(work: str) -> int:
    """Fit Spark to the box from outside (local[nproc], a heap that fits,
    one local dir under ``work``); returns nproc."""
    cpus = len(os.sched_getaffinity(0))
    for d in ("local", "tmp", "duck"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_GRAFT_ORACLE_SF"] = f"{work}/tables"
    # Python workers import the library from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return cpus


def end_to_end(wl, setup_walls: list[float], iterations: list[list]) -> dict:
    jobs = [wl.job(it) for it in iterations]
    job_walls = [sum(c.wall for c in job) for job in jobs]
    walls = [c.wall for it in iterations for c in wl.calls(it)]
    # one call (production's backfill) is its own median and 90th percentile
    deciles = statistics.quantiles(walls, n=10, method="inclusive") if len(walls) > 1 else walls * 9
    return {
        "setup_s": statistics.median(setup_walls),
        "job_s": statistics.median(job_walls),
        "points_per_s": statistics.median(
            sum(c.points for c in job) / w for job, w in zip(jobs, job_walls)
        ),
        "query_p50_s": deciles[4],
        "query_p90_s": deciles[8],
        "queries_per_s": len(walls) / sum(walls),
    }


def traced(ctx, wl, cpus: int, untraced: list, untraced_s: float, t_run0: float) -> dict:
    """Per-layer run: one traced iteration (spans, job groups, event
    log) in a new session, the layer probes, and (production) a fresh
    build at ``local[1]``. ``untraced`` is the run's first timed (warm)
    iteration and ``untraced_s`` its wall."""
    from layers import PIPELINE_SPANS, QUERIES
    from spans import Tracer, attribute, read_event_log
    from workloads import storage_mb

    # in this session, so that whatever the reference leaves in storage
    # goes when it stops
    wl.traced_references()

    log_dir = f"{ctx.work}/eventlog"
    ctx.stop_spark()
    spark = ctx.open_spark(event_log=log_dir)
    tracer = Tracer(spark.sparkContext)
    base = storage_mb(spark)
    t0 = time.perf_counter()
    calls = wl.iteration(tracer)
    traced_s = time.perf_counter() - t0
    calls += wl.traced_calls(tracer)
    retained = storage_mb(spark) - base
    _mark(t_run0, "traced iteration")
    out = wl.layers(calls, tracer)
    ctx.stop_spark()
    _mark(t_run0, "layer probes")
    per_span = attribute(read_event_log(log_dir), tracer.spans)

    # the traced iteration runs on the same warm JVM but in a new
    # session (Python workers restart), so this reads the tracing cost
    # roughly
    out["trace.overhead_s"] = traced_s - untraced_s
    out["storage.retained_mb"] = retained
    out["codec_ops.python_udf_s"] = 0.0
    for s in tracer.spans:
        rec = per_span[s["id"]]
        if s["name"] in PIPELINE_SPANS:
            for k in ("shuffle_write_mb", "spill_mb", "task_skew"):
                out[f"span.{s['name']}.{k}"] = rec[k]
        elif s["name"] in QUERIES:
            for k in ("shuffle_write_mb", "task_skew"):
                out[f"query.{s['name']}.{k}"] = rec[k]
        # Python worker time of the codec paths: run_pipeline's codec
        # branch and the codec_roundtrip query
        if s["name"] in ("run_pipeline_fresh", "codec_roundtrip"):
            out["codec_ops.python_udf_s"] += rec["python_s"]
    print("spans " + json.dumps(tracer.spans), flush=True)
    if wl.name == "production":
        print(
            "trace: jobs of run_pipeline's codec thread carry no job group; they are "
            "attributed to the enclosing run_pipeline span by submission time",
            flush=True,
        )
        if time.time() - t_run0 < SCALING_BUDGET_S:
            # single-threaded fresh build: scaling efficiency 1 -> nproc,
            # a diagnostic (a 2 -> 8 pair needs 8+ CPUs)
            ctx.open_spark(master="local[1]")
            one = wl.fresh(Tracer())
            ctx.stop_spark()
            calls.append(one)
            fresh_n = wl.job(untraced)[0].wall
            if one.got is not None:
                out["pipeline.scaling_eff_1to4"] = one.wall / (cpus * fresh_n)
            print(f"scaling: fresh build local[1] {one.wall:.2f} s, local[{cpus}] {fresh_n:.2f} s")
        else:
            print("scaling: skipped, run budget spent; pipeline.scaling_eff_1to4 reads 0")
    return {"metrics": out, "calls": calls}


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "aroma_spark", "__init__.py")):
        _fail("run from the repository root: aroma_spark/ is not here")
    sys.path[:0] = [HERE, ROOT]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    t_run0 = time.time()
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    cpus = prepare_env(work)
    ctx = Ctx(args.seed, work)
    wl = WORKLOADS[args.workload](ctx)
    try:
        from scripts.bench_scaling import sentinel_probe

        from checks import connect
        from layers import tag
        from spans import Tracer

        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            catalogue = json.load(f)["per_layer" if args.trace else "end_to_end"]
        units = {m["name"]: m["unit"] for m in catalogue}

        sentinel = sentinel_probe()
        print(f"host.sentinel_s {sentinel:.3f}", flush=True)
        ctx.con = connect(f"{work}/duck")
        t0 = time.perf_counter()
        ctx.open_spark()
        print(f"session {time.perf_counter() - t0:.3f} s", flush=True)
        # set-up: the seeded inputs, SETUP_REPS times in the one session
        # (once in a traced run, which does not report setup_s)
        setup_walls = []
        for _ in range(1 if args.trace else SETUP_REPS):
            t0 = time.perf_counter()
            wl.prepare()
            setup_walls.append(time.perf_counter() - t0)
        # warm-up: the session's first calls pay the JIT, codegen and
        # Python worker start; they are checked but not timed. The
        # references (DuckDB) are computed beside them.
        _mark(t_run0, "set-up")
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            refs = pool.submit(wl.references)
            warm_up = wl.warm_up()
            refs.result()
        _mark(t_run0, "warm-up and references")
        # timed: whole warm iterations until --seconds have passed
        iterations, iteration_walls = [], []
        t_measure = time.time()
        while True:
            t0 = time.perf_counter()
            iterations.append(wl.iteration(Tracer()))
            iteration_walls.append(time.perf_counter() - t0)
            if time.time() - t_measure >= args.seconds or time.time() - t_run0 > RUN_BUDGET_S:
                break
        _mark(t_run0, "timed iterations")
        print("setup " + " ".join(f"{w:.3f}" for w in setup_walls), flush=True)
        print("warm-up " + " ".join(f"{c.name}={c.wall:.3f}" for c in warm_up), flush=True)
        for it in iterations:
            print("timed " + " ".join(f"{c.name}={c.wall:.3f}" for c in it), flush=True)
        metrics = end_to_end(wl, setup_walls, iterations)
        calls = warm_up + [c for it in iterations for c in it]
        if args.trace:
            tr = traced(ctx, wl, cpus, iterations[0], iteration_walls[0], t_run0)
            tr["metrics"]["host.sentinel_s"] = sentinel
            metrics = tr["metrics"]
            calls += tr["calls"]
            for name in units:
                moves, live = tag(name)
                print(f"tag {name} moves={moves} on={live}", flush=True)
        unknown = sorted(set(metrics) - set(units))
        if unknown:
            print(f"perfbench: not in BENCHMARK.json, not reported: {unknown}", file=sys.stderr)
        # a layer the traced workload does not run reads 0
        metrics = {k: metrics.get(k, 0.0) for k in units}
        failed = sum(not wl.verify(c) for c in calls)
        print(f"elapsed {time.time() - t_run0:.1f} s", flush=True)
    finally:
        ctx.stop_spark()
        stop_gateway()
        if ctx.con is not None:
            ctx.con.close()
        wl.remove_codebook()
        shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(calls),
                "failed": failed,
                "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )


def stop_gateway() -> None:
    """End the JVM this process started and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    main()
