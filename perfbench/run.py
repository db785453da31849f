"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload hive_sql --seed 1 --seconds 10 --trace 0

From the root of a checkout. Generates the inputs from --seed, sets the
engine up three times in one process (session, catalog and workload state;
only the first pays the JVM launch; setup_s is the median), then drives the
workload in a closed loop with one client thread, in whole rounds of ops,
for about --seconds (at least one round), checks every op's output against
an oracle and prints ``{"correct", "attempted", "failed", "metrics"}`` as the last stdout line.
--trace 1 prints the per-layer metrics instead (every op traced) and writes
the spans to .perfbench_out/. Everything else the run writes goes
to .perfbench_tmp/, removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
SCALE_FACTOR = 0.1
DRIVER_MEMORY = "2g"


class Context:
    def __init__(self, seed: int, data_dir: str, work_dir: str, tracer):
        self.seed = seed
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.tracer = tracer
        self.engine = None


def _isolate(work: str) -> None:
    """Keep every file Spark writes under ``work``; make the repo importable
    by Python workers from any cwd; quiet the console."""
    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        # keep every job of a traced run readable from the status API
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        f"--conf spark.local.dir={local}",
        # a pre-touched fixed heap, so peak RSS does not swing with the
        # JVM's heap-growth decisions from run to run
        "--driver-java-options " + shlex.quote(
            f"-Dderby.system.home={work} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"),
        "pyspark-shell",
    ])
    os.chdir(work)  # spark-warehouse/, metastore_db/ land here


def _stop_session(spark, tracer) -> None:
    """Stop the session; the tracer first reads its job counters."""
    tracer.collect_counters(spark.sparkContext)
    tracer.sc = None
    spark.stop()


def _stop_jvm() -> None:
    """Stop any session left running, then the JVM, and wait until the JVM
    and every process it started (Python workers) has exited."""
    from pyspark import SparkContext

    from spans import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    pids = descendants()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while (alive := [p for p in pids if _alive(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in alive:
        os.kill(p, signal.SIGKILL)
    if proc is not None:
        proc.wait()


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _set_up(ctx: Context, wl) -> float:
    from hive_person_service_spark.engine import Engine
    from hive_person_service_spark.session import get_spark

    tr = ctx.tracer
    t0 = time.perf_counter()
    with tr.span("session.get_spark"):
        spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    tr.sc = spark.sparkContext if tr.enabled else None
    with tr.span("engine.attach"):
        ctx.engine = Engine(spark).attach(ctx.data_dir)
    wl.setup()
    return time.perf_counter() - t0


def _percentile_report(lat: list[float]) -> str:
    """Median plus the highest percentile with >= 10 samples beyond it."""
    n = len(lat)
    s = sorted(lat)
    out = f"n={n} p50={statistics.median(s):.4f}s"
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return out + f" p{p}={s[min(n - 1, int(n * p / 100))]:.4f}s"
    return out + " (too few samples for a tail percentile)"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="use these fixture tables instead of generating them")
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    import hive_person_service_spark  # noqa: F401  (fail fast outside a checkout)

    import gen
    import metrics
    from spans import RssSampler, Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench_tmp", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        _isolate(work)
        data = os.path.abspath(args.data) if args.data else os.path.join(work, "data")
        if not args.data:
            gen.write_tables(data, args.seed, SCALE_FACTOR)
        tracer = Tracer(bool(args.trace))
        ctx = Context(args.seed, data, work, tracer)
        wl = WORKLOADS[args.workload](ctx)
        return _run(args, ctx, wl, tracer, metrics, RssSampler)
    finally:
        _stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # still in use by a concurrent run
            os.rmdir(os.path.dirname(work))


def _run(args, ctx, wl, tracer, metrics, RssSampler) -> int:
    import json

    cores = len(os.sched_getaffinity(0))
    setups = []
    with RssSampler() as rss:
        for k in range(SETUPS):
            setups.append(_set_up(ctx, wl))
            if k < SETUPS - 1:
                _stop_session(ctx.engine.spark, tracer)

        tracer.cost_s = 0.0  # count the loop's tracing overhead only
        lat: dict[int, float] = {}
        outputs: dict[int, object] = {}
        raised = 0
        i = 0
        t_start = time.perf_counter()
        # Ops run in whole rounds (one query per SQL template, one OPTIMIZE
        # period of lake cycles), so every run measures the same mix; a round
        # starts only if it is expected to end within --seconds.
        while i % wl.round or i == 0 or (
                time.perf_counter() - t_start
                + wl.round * sum(lat.values()) / max(1, len(lat)) <= args.seconds):
            tracer.op = i
            try:
                prep = wl.prepare(i)
                t0 = time.perf_counter()
                with tracer.span(wl.op_span):
                    out = wl.run(i, prep)
                lat[i] = time.perf_counter() - t0
                outputs[i] = out
                if tracer.enabled:
                    wl.trace_extra(i, prep, out)
            except Exception:
                traceback.print_exc()
                raised += 1
            i += 1
        loop_s = time.perf_counter() - t_start
        _stop_session(ctx.engine.spark, tracer)
        _stop_jvm()

    t_check = time.perf_counter()
    ok, quality = wl.check(outputs)
    check_s = time.perf_counter() - t_check
    attempted = i
    failed = raised + sum(not v for v in ok.values())
    values = list(lat.values())
    if not values:
        sys.exit(f"[{wl.name}] every op raised; no metrics to report")
    print(f"[{wl.name}] setups={['%.2f' % s for s in setups]} {_percentile_report(values)} "
          f"ops={attempted} failed={failed} quality={quality} "
          f"loop_s={loop_s:.2f} check_s={check_s:.2f} "
          f"latencies={[round(v, 3) for v in values]}", file=sys.stderr)

    if args.trace:
        res = _per_layer(tracer, wl, lat, setups, cores, metrics)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{wl.name}-{args.seed}.json"))
    else:
        res = {
            "setup_s": statistics.median(setups),
            "op_p50_s": statistics.median(values),
            "ops_per_s": len(values) / loop_s,
            "peak_rss_mb": rss.peak_bytes / 2**20,
            "result_recall": quality["recall"],
        }
        units = {n: u for n, u, _, _ in metrics.END_TO_END}
        res = {k: {"value": v, "unit": units[k]} for k, v in res.items()}
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": res}))
    return 0


def _per_layer(tracer, wl, lat, setups, cores, metrics) -> dict:
    summ = tracer.summary(cores)
    vals: dict[str, float] = {}
    for s in metrics.SPANS:
        row = summ.get(s, {})
        vals[f"{s}_s"] = row.get("wall_s", 0.0)
        vals[f"{s}.self_s"] = row.get("self_s", 0.0)
        vals[f"{s}.jobs"] = row.get("jobs", 0.0)
    for s in metrics.OP_SPANS:
        row = summ.get(s, {})
        for c, _, _ in metrics.OP_COUNTERS:
            vals[f"{s}.{c}"] = row.get(c, 0.0)
    extra = dict(wl.extra)
    extra["setup.cold_s"] = [setups[0]]
    if wl.name == "lake_upsert":
        extra["lake.upsert_rows_per_s"] = [wl.batch_rows * len(lat) / sum(lat.values())]
    extra["trace.overhead_s"] = [tracer.cost_s / len(lat)]
    extra["trace.op_p50_s"] = [statistics.median(lat.values())]
    for n, _, _ in metrics.COUNTS:
        xs = extra.get(n)
        vals[n] = sum(xs) / len(xs) if xs else 0.0
    units = {n: u for n, u, _ in metrics.per_layer()}
    return {k: {"value": vals[k], "unit": units[k]} for k in units}


if __name__ == "__main__":
    sys.exit(main())
