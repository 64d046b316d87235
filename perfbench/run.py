"""pfx benchmark: one closed-loop client runs one workload's whole plan
as a batch job, one job at a time, at ``local[<cores>]`` with as many
shuffle partitions as cores.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 12 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` makes the
same untraced reps, then a traced pass that times each layer's public
function from here and prints the per-layer metrics. The traced pass
covers the layers of every workload, so each traced run reports the
same per-layer metrics whichever workload it was given. The last stdout
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``. Runs from any working directory; it writes only under
``.perfbench/`` in the repository it lives in.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
TIME_LIMIT_S = 170  # a run that hangs is stopped and exits non-zero
SETUPS = 3  # setup_s is the median of this many set-ups
# After the check pass the JVM is still warming up: the next rep runs
# 20-40% slower than later ones and its time swings the most from run
# to run, so WARM_REPS untimed reps come before the timed ones.
WARM_REPS = 1
# Now and then one rep runs 30-50% slower than the others of its run;
# with three or more timed reps, their median ignores it.
MIN_REPS = 3

# Span names of the traced pass: the whole plans each workload traces
# (each also gets a ``.declare`` span), and the layers called on their
# own beside each plan. The pit plan runs on extract's transcript table.
# A traced run traces every workload here, its own first.
PLANS = {
    "extract": ("plans.extract.extract_features", "plans.pit.pit_features_auto"),
    "curate": ("operators.curation.curate_corpus",),
}
ALL_PLANS = tuple(plan for plans in PLANS.values() for plan in plans)
LAYERS = {
    "plans.extract.extract_features": (
        "io.parquet.scan",
        "schema.with_derived",
        "plans.extract.fused_slice_features",
        "plans.extract.host_trace_scalars",
        "features.corr.corr_features",
        "operators.asof.interval_join",
    ),
    "plans.pit.pit_features_auto": (
        "operators.skew.heavy_hitters",
        "plans.pit.pit_features",
        "plans.pit.pit_features_blocked",
        "io.parquet.write",
    ),
    "operators.curation.curate_corpus": (
        "functions.text.quality_score",
        "operators.dedup.dedup_corpus",
        "operators.curation.decontaminate",
    ),
}
DRIVER_KERNELS = ("features.hayes_vec.hayes_matrix_batch", "features.slt_vec.slt_matrix_batch")
# layers whose plan has no exchange, so they write no shuffle bytes
NO_SHUFFLE = ("io.parquet.scan", "io.parquet.write", "functions.text.quality_score")
STAGE_UNITS = {
    "jobs": "count",
    "tasks": "count",
    "shuffle_write_bytes": "bytes",
    "task_skew": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """The per-layer metrics a traced run reports, with their units:
    those of every workload's plans and layers."""
    units: dict[str, str] = {}
    for layer in (*ALL_PLANS, *(x for plan in ALL_PLANS for x in LAYERS[plan])):
        units[f"{layer}.wall_s"] = "s"
        for suffix, unit in STAGE_UNITS.items():
            if not (suffix == "shuffle_write_bytes" and layer in NO_SHUFFLE):
                units[f"{layer}.{suffix}"] = unit
    for plan in ALL_PLANS:
        units[f"{plan}.declare_jobs"] = "count"
    units["operators.asof.interval_join.rows_out"] = "count"
    for kernel in DRIVER_KERNELS:
        units[f"{kernel}.rows_per_s"] = "1/s"
    return units


def _prepare_env(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "scratch"):
        os.makedirs(os.path.join(work, sub))
    # Python workers import the package and its kernels from the repo
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the package puts shuffle on /dev/shm; a run may write only inside
    # its checkout, so shuffle goes to the checkout's disk instead
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PFX_SCRATCH_DIR"] = os.path.join(work, "scratch")


def _session(cores: int, work: str):
    from proxyfeatureextraction_spark import get_spark

    return get_spark(
        "pfx-perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            # the package default (64g) does not fit a small host
            "spark.driver.memory": "4g",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                "-Dio.netty.tryReflectionSetAccessible=true "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                f"-Dderby.system.home={os.path.join(work, 'scratch', 'derby')}"
            ),
        },
    )


def _time_limit(signum, frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")


def _shutdown(spark) -> None:
    """Stop Spark, then the JVM this process launched, and wait until
    every process started under this one has ended."""
    from pyspark import SparkContext

    from perfbench.spans import descendants

    if spark is not None:
        spark.stop()
    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(os.path.exists(f"/proc/{p}") for p in started) and time.monotonic() < deadline:
        time.sleep(0.1)


def _warm_up(spark, cores: int) -> None:
    """Run a first JVM job and start one Python worker per core."""
    spark.range(0, 4 * cores, 1, cores).mapInPandas(lambda it: it, "id long").collect()


def _setup(workload_cls, seed: int, cores: int, work: str):
    """Session start, input generation and warm-up, ``SETUPS`` times;
    the first launches the JVM, the later ones restart the SparkContext
    in it. The last set-up's session and input are the ones measured."""
    spark, wl, times = None, None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        spark = _session(cores, work)
        spark.sparkContext.setLogLevel("ERROR")
        wl = workload_cls(spark, seed, work, cores)
        wl.generate()
        _warm_up(spark, cores)
        times.append(time.perf_counter() - t)
    return spark, wl, times


def _timed_reps(wl, seconds: float):
    """Closed loop: the next rep starts when the previous one has ended.
    After ``WARM_REPS`` untimed reps, timed reps run until ``seconds``
    have passed and at least ``MIN_REPS`` ran. Every rep's digest is
    checked."""
    from perfbench.spans import WorkerRssSampler

    times, failed, n = [], 0, 0
    t_end = float("inf")
    with WorkerRssSampler() as rss:
        while time.perf_counter() < t_end or n < WARM_REPS + MIN_REPS:
            if n == WARM_REPS:
                t_end = time.perf_counter() + seconds
            n += 1
            t = time.perf_counter()
            try:
                got = wl.rep()
            except Exception:
                traceback.print_exc()
                failed += 1
                continue
            dt = time.perf_counter() - t
            if got != wl.expected:
                print(f"rep digest {got} != check pass {wl.expected}", file=sys.stderr)
                failed += 1
            elif n > WARM_REPS:
                times.append(dt)
    return times, failed, n, rss.peak_mb


def _traced_pass(spark, wl, untraced_wall: float, seed: int, cores: int, work: str):
    """Trace ``wl``'s layers, then those of every other workload. An
    other workload first generates its input from the run's seed and
    runs its output check, untimed, which also warms its plan up."""
    from perfbench.spans import Tracer, group_stage_metrics, wait_for_listeners
    from perfbench.workloads import WORKLOADS

    sc = spark.sparkContext
    tracer = Tracer(sc, f"{wl.name}-seed{seed}")
    rates, errors = {}, []
    for name, cls in sorted(WORKLOADS.items(), key=lambda kv: kv[0] != wl.name):
        if name == wl.name:
            traced = wl
        else:
            traced = cls(spark, seed, work, cores)
            traced.generate()
            errors += traced.check()
        with tracer.span(name):
            traced_rates, traced_errors = traced.trace(tracer)
        rates.update(traced_rates)
        errors += traced_errors
    wait_for_listeners(sc)

    units = per_layer_units()
    metrics = {}
    by_name = {}
    for sp in tracer.spans:
        by_name[sp.name] = sp
        if sp.name.endswith(".declare"):
            jobs = sc.statusTracker().getJobIdsForGroup(sp.group)
            metrics[f"{sp.name}_jobs"] = float(len(jobs))
        elif sp.name in DRIVER_KERNELS:
            metrics[f"{sp.name}.rows_per_s"] = rates[sp.name]
        elif sp.name not in WORKLOADS:
            metrics[f"{sp.name}.wall_s"] = sp.wall_s
            stage = group_stage_metrics(sc, sp.group)
            for suffix in STAGE_UNITS:
                metrics[f"{sp.name}.{suffix}"] = stage[suffix]
            for k, v in sp.counts.items():
                metrics[f"{sp.name}.{k}"] = v
    missing = sorted(set(units) - set(metrics))
    if missing:
        raise RuntimeError(f"traced pass did not measure {missing}")

    tracer.dump(os.path.join(OUT, f"spans-{tracer.run_id}.json"))
    # Printed, not a metric: the traced plan runs after more warm reps
    # than the untraced median, so the difference is within run noise.
    traced_wall = by_name[wl.plan_name].wall_s + by_name[f"{wl.plan_name}.declare"].wall_s
    print(f"trace overhead: traced {wl.plan_name} {traced_wall:.3f} s "
          f"- untraced median {untraced_wall:.3f} s = {traced_wall - untraced_wall:+.3f} s")
    # layer spans enclose no other span, so a layer's self time is its wall_s
    for plan in ALL_PLANS:
        ranked = sorted(((by_name[x].wall_s, x) for x in LAYERS[plan]), reverse=True)
        for wall_s, name in ranked:
            print(f"self time  {plan} > {name:<36} {wall_s:9.3f} s")
    return {k: {"value": metrics[k], "unit": u} for k, u in units.items()}, errors


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("extract", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # fails here, before anything starts, without the package beside us
    import proxyfeatureextraction_spark  # noqa: F401

    from perfbench.workloads import WORKLOADS

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(OUT, f"work-{os.getpid()}")
    _prepare_env(work)
    signal.signal(signal.SIGALRM, _time_limit)
    signal.alarm(TIME_LIMIT_S)
    spark = None
    try:
        spark, wl, setup_times = _setup(WORKLOADS[args.workload], args.seed, cores, work)
        t = time.perf_counter()
        errors = wl.check()
        check_s = time.perf_counter() - t
        times, failed, attempted, peak_mb = _timed_reps(wl, args.seconds)
        if not times:
            raise RuntimeError(f"all {attempted} reps failed")
        wall = statistics.median(times)
        print(f"workload {wl.name}  seed {args.seed}  local[{cores}]  input rows {wl.input_rows}")
        print(f"setup_s  median of {SETUPS} set-ups {[round(x, 3) for x in setup_times]} "
              "(the first launches the JVM)")
        print(f"check    {check_s:.3f} s (untimed; also the plan's warm-up)")
        print(f"wall_s   median of {len(times)} timed reps {[round(x, 3) for x in times]}, "
              f"after {WARM_REPS} untimed")
        if args.trace:
            result_metrics, trace_errors = _traced_pass(spark, wl, wall, args.seed, cores, work)
            errors += trace_errors
        else:
            result_metrics = {
                "setup_s": {"value": statistics.median(setup_times), "unit": "s"},
                "wall_s": {"value": wall, "unit": "s"},
                "rows_per_s": {"value": wl.input_rows / wall, "unit": "1/s"},
                "worker_peak_rss_mb": {"value": peak_mb, "unit": "MB"},
            }
        for e in errors:
            print(f"CHECK FAILED {e}", file=sys.stderr)
        if errors:  # a wrong output makes every rep of the run a failure
            failed = attempted
        print(f"error_rate {failed}/{attempted} = {failed / attempted:.3f}")
        for k, m in result_metrics.items():
            print(f"{k:<58} {m['value']:>20.6f} {m['unit']}")
        result = {"correct": not errors and failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": result_metrics}
    finally:
        signal.alarm(0)
        _shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
