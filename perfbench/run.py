"""Layered benchmark for proj_4_spark: one command, four closed-loop
workloads, end-to-end metrics untraced and per-layer metrics traced.

    python3 perfbench/run.py --workload reproject_bulk --seed 1 \
        --seconds 12 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
under ``perfbench/data/``; every output is checked outside the timed
region, and the last line of standard output is one JSON object
(``correct``, ``attempted``, ``failed``, ``metrics``).  A failed check
exits with code 1.  Every figure of a run, with the time of each
operation, also goes to ``perfbench/data/results/``.  See
perfbench/NOTES.md for the workloads, the metrics and the
layer-to-metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
WORKLOADS = ("reproject_bulk", "crs_many_small", "spatial_enrich",
             "ann_serve")
INPUT_REPEATS = 3
SETUP = ("session", "inputs", "warmup")


def _hygiene() -> None:
    """Environment for the driver and the Python workers it spawns: the
    library on the workers' path, one BLAS/OpenMP thread per worker and
    every temporary file inside the benchmark's data directory."""
    tmp = os.path.join(DATA, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    # every JVM (launcher and driver): temp files here, no hsperfdata
    # files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp}")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _spark_conf(nproc: int) -> dict[str, str]:
    phys_gb = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
               / 2 ** 30)
    # the driver JVM is the whole local executor: keep its heap well
    # below physical memory, which other processes share
    heap_gb = max(1, min(4, int(phys_gb // 4)))
    return {
        "spark.master": f"local[{nproc}]",
        "spark.app.name": "proj4spark-perfbench",
        "spark.driver.memory": f"{heap_gb}g",
        "spark.sql.shuffle.partitions": str(2 * nproc),
        "spark.sql.execution.arrow.maxRecordsPerBatch": "131072",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(DATA, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(DATA, "warehouse"),
    }


def _start_spark(conf: dict[str, str]):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the context, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "proj_4_spark", "__init__.py")):
        print(f"proj_4_spark sources not found under {ROOT}; run from the "
              "root of a checkout", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    _hygiene()
    wdir = os.path.join(DATA, args.workload)
    shutil.rmtree(wdir, ignore_errors=True)
    os.makedirs(wdir)
    os.makedirs(os.path.join(DATA, "results"), exist_ok=True)

    import workloads
    from tracer import Ops, Tracer

    conf = _spark_conf(nproc)
    print(f"workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} trace={args.trace} nproc={nproc}")
    print("spark conf: " + json.dumps(conf, sort_keys=True))

    tracer = Tracer(bool(args.trace))
    ops = Ops(tracer)
    phases: dict = {}

    def timed(phase: str, fn):
        t0 = time.perf_counter()
        with tracer.span(f"setup.{phase}" if phase in SETUP else phase):
            res = fn()
        phases.setdefault(phase, []).append(time.perf_counter() - t0)
        return res

    spark = timed("session", lambda: _start_spark(conf))
    try:
        wl = workloads.REGISTRY[args.workload](spark, args.seed, wdir, nproc,
                                               tracer, ops)
        for _ in range(INPUT_REPEATS):
            timed("inputs", wl.make_inputs)
        timed("warmup", wl.warmup)
        print("inputs: " + json.dumps(wl.sizes, sort_keys=True))
        timed("measure", lambda: wl.measure(args.seconds))
        problems = timed("check", wl.check)
        if args.trace:
            timed("driver_legs", wl.driver_legs)
    finally:
        timed("stop", lambda: _stop_spark(spark))
    print("phase seconds: " + json.dumps(
        {k: [round(t, 3) for t in v] for k, v in phases.items()}))

    session_s = phases["session"][0]
    inputs_s = statistics.median(phases["inputs"])
    warmup_s = phases["warmup"][0]
    setup_s = session_s + inputs_s + warmup_s
    failed_share = ops.failed / max(ops.attempted, 1)
    print(f"ops attempted={ops.attempted} failed={ops.failed} "
          f"ops_failed_share={failed_share:.6g} ratio "
          f"failures={dict(ops.failures)}")

    e2e = {"setup_s": (setup_s, "s")}
    named = {"ops_failed_share": (failed_share, "ratio")}
    layers = {"setup.session_s": (session_s, "s"),
              "setup.inputs_s": (inputs_s, "s"),
              "setup.warmup_s": (warmup_s, "s")}
    try:
        e2e.update(wl.e2e_metrics())
        named.update(wl.named_metrics())
        if args.trace:
            layers.update(wl.layer_metrics())
    except (ArithmeticError, LookupError, AttributeError,
            statistics.StatisticsError) as exc:
        # only reachable when operations or checks already failed
        problems.append(f"metrics could not be computed: {exc!r}")
    named.update(e2e)
    for name, (value, unit) in named.items():
        print(f"metric {name} = {value:.6g} {unit}")
    results = {"workload": args.workload, "seed": args.seed,
               "trace": args.trace, "phases_s": phases, "sizes": wl.sizes,
               "metrics": named,
               "ops": {k: {"call_s": ops.call_s[k],
                           "action_s": ops.action_s[k]}
                       for k in ops.call_s}}

    if args.trace:
        op_s = sum(ops.all_calls()) + sum(ops.all_actions())
        layers["trace.spans"] = (len(tracer.spans), "count")
        layers["trace.overhead_share"] = (
            tracer.bookkeeping_s / max(op_s, 1e-9), "ratio")
        self_s = tracer.self_times()
        for name, s in sorted(self_s.items()):
            print(f"self {name} = {s:.6g} s")
        for name, (value, unit) in layers.items():
            print(f"layer {name} = {value:.6g} {unit}")
        span_path = os.path.join(
            DATA, "results", f"{args.workload}-seed{args.seed}-spans.json")
        tracer.write(span_path)
        print(f"spans written to {os.path.relpath(span_path, ROOT)}")
        results.update(layers=layers, self_s=self_s)
        out = {k: layers[k] for k in workloads.PER_LAYER if k in layers}
        wanted = workloads.PER_LAYER
    else:
        out = {k: e2e[k] for k in workloads.E2E if k in e2e}
        wanted = workloads.E2E
    missing = [k for k in wanted if k not in out]
    if missing:
        problems.append("metrics not measured: " + ", ".join(missing))
    for line in problems:
        print("CHECK FAILED: " + line)
    res_path = os.path.join(
        DATA, "results",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    results["problems"] = problems
    with open(res_path, "w") as fh:
        json.dump(results, fh, indent=1)
    print(f"results written to {os.path.relpath(res_path, ROOT)}")
    print(json.dumps({
        "correct": not problems,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
