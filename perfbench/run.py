"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout of the repository: the package under
test is imported from the current directory and nowhere else. It prints
every metric by name and unit, then, as the last line of standard output,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; with
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from harness import (  # noqa: E402
    Checker,
    SparkCounters,
    Tracer,
    machine_state,
    median,
    tree_cpu_s,
)

WORKLOADS = ("etl", "serve")
PACKAGE = "ftm_columnstore_spark"
DRIVER_MEMORY = "2g"


def _load_spec() -> dict:
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _import_package(root: str):
    """Import the package from ``root`` only; exit 2 if it is not there."""
    pkg_dir = os.path.join(root, PACKAGE)
    if not os.path.isfile(os.path.join(pkg_dir, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package in {root}", file=sys.stderr)
        sys.exit(2)
    sys.path.insert(0, root)
    import ftm_columnstore_spark as pkg

    if os.path.realpath(os.path.dirname(pkg.__file__)) != os.path.realpath(pkg_dir):
        print(f"perfbench: {PACKAGE} resolved outside {root}", file=sys.stderr)
        sys.exit(2)
    return pkg


def _pin_environment(root: str, tmp: str, cores: int) -> None:
    """Process environment the engine reads, set before the JVM starts."""
    local = os.path.join(tmp, "spark-local")
    os.makedirs(local, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    java_opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ.update({
        # Python workers (pandas UDFs) import the package from the checkout
        "PYTHONPATH": os.pathsep.join(paths),
        # every JVM (the launcher too) keeps its temp files in the run's
        # temp dir and writes no perf-data file to the system temp dir
        "JAVA_TOOL_OPTIONS": f"{java_opts} -XX:-UsePerfData -Djava.io.tmpdir={tmp}".strip(),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(cores),
        "FTMCS_DRIVER_MEMORY": DRIVER_MEMORY,
        "FTMCS_STORE_URI": os.path.join(tmp, "default-store"),
    })


def _start_spark(tmp: str, cores: int):
    from ftm_columnstore_spark import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.enabled": "false",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # the status store keeps every job and stage of a run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python worker daemon) to exit."""
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
        except Exception:  # noqa: BLE001 - last resort, then re-wait
            proc.kill()
            proc.wait()


def _per_layer(wl, run, counters: SparkCounters, out: dict,
               session_s: float, overhead: float) -> dict:
    tr = run.tracer
    layers = out.get("layers", {})
    cores = run.cores
    n_reads = layers.pop("reads", 0)
    rows_out = layers.pop("query_rows", 0)
    views = tuple(f"view.{c}" for c in sorted(wl.CYCLE_SET))
    compiled = ("view.entities", "view.search", "view.aggregations")
    query_spans = sum(tr.count(name) for name in compiled)
    view_input_bytes = counters.total("inputBytes", views)
    view_shuffle = counters.total("shuffleWriteBytes", views)
    scanned = counters.total("inputRecords", ("view.entities", "view.search"))
    pipe_s = tr.seconds("pipeline.prepare")
    work, window = wl.WORK_SPANS, out.get("window_s", 0)
    m = {
        "session.start_s": session_s,
        "sources.stmts_out": layers.get("sources.stmts_out", 0),
        "sources.read_s": tr.seconds("sources.read"),
        "store.write_s": tr.seconds("store.write"),
        "store.write_bytes": counters.total("outputBytes", "store.write"),
        "store.files_written": layers.get("store.files_written", 0),
        "store.write_shuffle_bytes": counters.total("shuffleWriteBytes", "store.write"),
        "store.read_build_s": median(tr.durations("store.read_build")),
        "store.dedup_reads": layers.get("store.dedup_reads", 0),
        "store.read_shuffle_bytes": view_shuffle / n_reads if n_reads else 0,
        "store.input_bytes_per_read": view_input_bytes / n_reads if n_reads else 0,
        "store.optimize_bytes_in": counters.total("inputBytes", "store.optimize"),
        "store.optimize_bytes_out": counters.total("outputBytes", "store.optimize"),
        "store.optimize_spill_bytes": counters.total("diskBytesSpilled", "store.optimize"),
        "store.optimize_jobs": counters.n_jobs("store.optimize"),
        "blocking.fingerprint_s": tr.seconds("blocking.fingerprint"),
        "blocking.fpx_rows": layers.get("blocking.fpx_rows", 0),
        "blocking.udf_rows": layers.get("blocking.udf_rows", 0),
        "blocking.candidate_pairs": layers.get("blocking.candidate_pairs", 0),
        "blocking.cc_s": tr.seconds("blocking.cc"),
        "xref.build_s": tr.seconds("xref.build"),
        "xref.accepted_edges": layers.get("xref.accepted_edges", 0),
        "xref.accept_ratio": layers.get("xref.accept_ratio", 0),
        "xref.canonical_rows": layers.get("xref.canonical_rows", 0),
        "compiler.build_s": median(tr.durations("compiler.build")),
        "compiler.jobs_per_query": (
            counters.n_jobs(compiled) / query_spans if query_spans else 0),
        "compiler.rows_scanned_per_result": scanned / rows_out if rows_out else 0,
        "pipeline.jobs": counters.n_jobs("pipeline.prepare"),
        "pipeline.shuffle_bytes": counters.total("shuffleWriteBytes", "pipeline.prepare"),
        "pipeline.spill_bytes": counters.total("diskBytesSpilled", "pipeline.prepare"),
        "pipeline.executor_busy_share": (
            counters.total("executorRunTime", "pipeline.prepare") / 1000 / (pipe_s * cores)
            if pipe_s else 0),
        "spark.jobs": counters.n_jobs(work),
        "spark.tasks": counters.total("numTasks", work),
        "spark.executor_cpu_s": counters.total("executorCpuTime", work) / 1e9,
        "spark.gc_s": counters.total("jvmGcTime", work) / 1000,
        "spark.executor_busy_share": (
            counters.total("executorRunTime", work) / 1000 / (window * cores)
            if window else 0),
        "failed_share": run.checker.failed / max(1, run.checker.attempted),
        "trace.overhead_share": overhead,
    }
    for cls in sorted(wl.CYCLE_SET):
        m[f"view.{cls}_p50_s"] = layers.get(f"view.{cls}_p50_s", 0)
    for name, (value, _unit) in run.extra.items():
        m[name] = value
    return m


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the benchmark's own tests")
    p.add_argument("--corrupt", action="store_true",
                   help="alter every engine answer before checking it "
                        "(self-test: every check must then fail)")
    args = p.parse_args(argv)
    # a terminated run still stops Spark and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    spec = _load_spec()
    _import_package(root)
    import workloads as wl

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(root, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _pin_environment(root, tmp, cores)
    state0 = machine_state()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(tmp, cores)
        session_s = time.perf_counter() - t0
        run = wl.Run(spark, Tracer(spark, bool(args.trace)), Checker(args.corrupt),
                     tmp, args.seed, args.seconds, cores, args.scale)
        setup, measure = {
            "etl": (wl.etl_setup, wl.etl_measure),
            "serve": (wl.serve_setup, wl.serve_measure),
        }[args.workload]
        prepared = setup(run)
        if not isinstance(prepared, tuple):
            prepared = (prepared,)
        counters = SparkCounters(spark)
        first_job = counters.next_job_id() if args.trace else 0
        setup_s, setup_wall_s = tree_cpu_s(), time.perf_counter() - T_START
        out = measure(run, *prepared)
        if args.trace:
            counters.collect(first_job)
    finally:
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    state1 = machine_state()
    run.extra.update({
        "machine.load1_start": (state0["load1"], "load"),
        "machine.load1_end": (state1["load1"], "load"),
        "machine.steal_ticks": (state1["steal_ticks"] - state0["steal_ticks"], "ticks"),
        "machine.run_s": (time.perf_counter() - T_START, "s"),
        "setup_wall_s": (setup_wall_s, "s"),
    })

    e2e = {"setup_s": setup_s}
    if out:
        e2e["cpu_per_op_s"] = out["cpu_per_op_s"]
        e2e["wall_per_op_s"] = out["wall_per_op_s"]
    last_path = os.path.join(out_dir, f"last-{args.workload}-{args.scale}.json")
    if args.trace:
        overhead = 0.0
        try:
            with open(last_path) as fh:
                base = json.load(fh)["cpu_per_op_s"]
            overhead = e2e.get("cpu_per_op_s", base) / base - 1
        except (OSError, ValueError, KeyError, ZeroDivisionError):
            pass
        values = _per_layer(wl, run, counters, out or {}, session_s, overhead)
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        with open(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump(run.tracer.spans, fh)
    else:
        values = e2e
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        if out and not args.corrupt and run.checker.failed == 0:
            with open(last_path, "w") as fh:
                json.dump(e2e, fh)
    metrics = {}
    for name, unit in units.items():
        value = values.get(name)
        if value is None and args.trace:
            value = 0.0  # a layer (or figure) the workload never reaches
        if value is not None:
            metrics[name] = {"value": float(value), "unit": unit}
    for name, (value, unit) in sorted(run.extra.items()):
        if name not in metrics:
            print(f"{name} {value:.6g} {unit}")
    for name, value in sorted(values.items()):
        if name not in metrics and name not in run.extra:
            print(f"{name} {value:.6g}")
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    for cls, n in sorted(run.checker.failed_by.items()):
        print(f"failed.{cls} {n} count")
    for err in run.checker.errors:
        print(f"check failed: {err}")
    ok = bool(out) and run.checker.failed == 0 and len(metrics) == len(units)
    print(json.dumps({
        "correct": ok,
        "attempted": max(1, run.checker.attempted),
        "failed": run.checker.failed if run.checker.attempted else 1,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
