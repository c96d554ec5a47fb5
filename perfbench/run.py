"""Benchmark runner: one workload, one seed, one result line.

    python3 perfbench/run.py --workload lambda_cycle --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout of this repository. It starts one
Spark session on ``local[<cores>]`` (one client process, one client
thread), generates the workload's inputs from ``--seed`` under
``.perfbench_work/``, runs the workload, checks every output, and
prints as its last stdout line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` the per-layer metrics of a traced run (spans, per-layer
self times and the tracing overhead are written under
``.perfbench_out/``). Exits non-zero without a result line when the
checkout holds no ``big_data_code_spark`` package.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("lambda_cycle", "registry_mix")
#: a seed kept out of tuning, for later gain claims
HELD_OUT_SEED = 9173


@dataclass
class Ctx:
    """What a workload gets: the session, its tracer, its seed and
    time budget, a private work directory, and the op/check ledger."""

    spark: object
    tracer: object
    probe: object
    seed: int
    seconds: float
    work: str
    scale: float | None
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)

    def op(self, ok: bool, what: str) -> None:
        """Count one operation; a wrong output or an exception fails it."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
            print(f"perfbench: FAILED {what}", file=sys.stderr)


def _configure_env(work: str) -> None:
    """Keep every file the program and Spark write inside the work
    directory, and size Spark to this host's cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    from stamp import cpus

    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    # JIT compiler threads that live as long as the JVM: the CPU an
    # exiting one spent could not be told apart from the program's
    # (see `proc.program_cpu_s`); the JIT compiles the same either way
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf 'spark.driver.extraJavaOptions={java_opts}'",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
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


#: figures the tracing overhead is reported on
OVERHEAD_KEYS = ("setup_s", "cpu_s_per_op", "op_p50_ms", "ops_per_s", "host_factor")


def _tracing_overhead(out_dir: str, workload: str, seed: int, traced: dict) -> dict:
    """Traced-run figures against the last untraced run of the same
    workload and seed, as relative differences."""
    path = os.path.join(out_dir, f"result_{workload}_s{seed}.json")
    if not os.path.isfile(path):
        return {"untraced_result": None}
    with open(path) as fh:
        rec = json.load(fh)
    base = {**rec["report"], **rec["e2e"]}
    return {
        "untraced_result": os.path.relpath(path, ROOT),
        "relative": {k: (traced[k] - base[k]) / base[k] for k in OVERHEAD_KEYS if base.get(k)},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="input scale factor (default: the workload's own)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "big_data_code_spark", "__init__.py")):
        print(f"perfbench: no big_data_code_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import proc
    import stamp
    from metrics import END_TO_END, PER_LAYER, REPORT_UNITS
    from hostspeed import HostProbe
    from spans import Tracer

    calibration = stamp.calibration_s()
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{int(time.time())}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _configure_env(work)

    tracer = Tracer(run_id, bool(args.trace))
    spark = None
    try:
        from big_data_code_spark.session import get_spark

        t0 = time.perf_counter()
        with tracer.span("session.start", "session"):
            spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        tracer.attach(spark)
        setup_s = time.perf_counter() - t0
        ctx = Ctx(spark, tracer, HostProbe(spark), args.seed, args.seconds, work, args.scale)
        ctx.setup_s = setup_s
        module = __import__(args.workload)
        module.run(ctx)
        # gated times are read at the reference core speed (hostspeed.py)
        factor = ctx.probe.factor()
        ctx.report.update(setup_wall_s=ctx.setup_s, cpu_s_per_op_raw=ctx.e2e["cpu_s_per_op"],
                          host_factor=factor, host_probe_s=ctx.probe.samples,
                          peak_rss_mb=proc.peak_rss_mb(),
                          fail_ratio=ctx.failed / max(ctx.attempted, 1))
        ctx.e2e["setup_s"] = ctx.setup_s
        ctx.e2e = {k: v / factor for k, v in ctx.e2e.items()}
        ctx.layer["session.start_s"] = tracer.by_name("session.start")[0].duration
        ctx.layer["trace.collect_s"] = tracer.collect_s
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    units = {n: u for n, u, *_ in END_TO_END + PER_LAYER}
    names = [m[0] for m in (PER_LAYER if args.trace else END_TO_END)]
    source = ctx.layer if args.trace else ctx.e2e
    metrics = {n: {"value": float(source.get(n, 0.0)), "unit": units[n]} for n in names}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "stamp": stamp.stamp(ROOT, calibration),
        "e2e": ctx.e2e,
        "layer": ctx.layer,
        "report": ctx.report,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "errors": ctx.errors[:20],
    }
    if args.trace:
        trace_dir = os.path.join(out_dir, f"trace_{args.workload}_s{args.seed}")
        overhead = _tracing_overhead(out_dir, args.workload, args.seed,
                                     {**ctx.report, **ctx.e2e})
        record["tracing_overhead"] = overhead
        tracer.write(trace_dir, {"tracing_overhead": overhead, "stamp": record["stamp"]})
        path = os.path.join(out_dir, f"result_{args.workload}_s{args.seed}_trace.json")
    else:
        path = os.path.join(out_dir, f"result_{args.workload}_s{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)

    print("# stamp " + json.dumps(record["stamp"], sort_keys=True))
    shown = {k: {"value": v, "unit": REPORT_UNITS[k]} for k, v in ctx.report.items()
             if k in REPORT_UNITS}
    print("# workload metrics " + json.dumps(shown, sort_keys=True))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed if ctx.attempted else 1,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
