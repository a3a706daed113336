"""Benchmark entry point.

    python3 perfbench/run.py --workload etl_jobs --seed 1 --seconds 20 --trace 0

Run from the root of a source checkout (the directory holding
``etl_cli_spark/``). It generates the workload's inputs from the seed,
starts a ``local[<cores>]`` session, sets up (one warm-up pass), runs the
closed loop for ``--seconds``, checks every output against its twin and
prints one JSON object as the last line of stdout. ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` prints the per-layer metrics and
dumps the spans to ``.perfbench_out/``. All files it writes stay under
``.perfbench_work/`` (removed on exit) and ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

# end-to-end metrics and their units, as --trace 0 prints them
E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "1/s", "op_latency_p50_s": "s",
    "op_latency_p90_s": "s", "peak_rss_mb": "MB", "write_amp": "ratio", "space_amp": "ratio",
}


def _workloads():
    from wl_corpus import CorpusCuration
    from wl_etl import EtlJobs

    return {w.name: w for w in (EtlJobs, CorpusCuration)}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _session(work: str, cores: int):
    from etl_cli_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads every job and stage back at the end
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile: a latency some op actually had."""
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def loop(wl, ctx, seconds: float) -> tuple[list[float], list]:
    """Closed loop, one client: repeat whole rounds until ``seconds`` pass."""
    walls, ops = [], []
    end = time.perf_counter() + seconds
    while True:
        t = time.perf_counter()
        ops += wl.round(ctx)
        walls.append(time.perf_counter() - t)
        if time.perf_counter() >= end:
            return walls, ops


def measure(args) -> dict:
    root = os.getcwd()
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = os.environ["TMPDIR"]
    # every JVM the session starts (launcher included) would otherwise
    # keep a perf-data file under the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    wl = _workloads()[args.workload](args.seed, work)
    spark = None
    try:
        t = time.perf_counter()
        info = wl.generate()
        gen_s = time.perf_counter() - t

        t = time.perf_counter()
        import etl_cli_spark  # noqa: F401

        import_s = time.perf_counter() - t
        t = time.perf_counter()
        cores = _cores()
        spark = _session(work, cores)
        session_s = time.perf_counter() - t

        from spans import Tracer
        from workload import Ctx

        ctx = Ctx(spark=spark, cores=cores, data=wl.data, work=work)
        t = time.perf_counter()
        wl.setup(ctx)
        setup_s = import_s + session_s + time.perf_counter() - t

        extra = {}
        if not args.trace:
            walls, ops = loop(wl, ctx, args.seconds)
        else:
            # untraced third, traced third (the difference is the tracing
            # overhead), then one prefix-differencing layer pass
            walls0, ops0 = loop(wl, ctx, args.seconds / 3)
            ctx.tracer = Tracer(spark, wl.name, cores)
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            wl.install_spans(ctx.tracer)
            try:
                walls, ops = loop(wl, ctx, args.seconds / 3)
            finally:
                ctx.tracer.unwrap()
                spark.conf.unset("spark.sql.pyspark.udf.profiler")
            extra["untraced_wall_s"] = statistics.median(walls0)
            extra["layer_pass"] = wl.layer_pass(ctx)
            traced_ops, ops = ops, ops0 + ops

        failures = wl.verify(ctx, ops)
        write_amp, space_amp = wl.amplification(ctx)
        lat = [op.latency for op in ops]
        failed = sum(not op.ok for op in ops)
        wall = statistics.median(walls)
        e2e = {
            "setup_s": setup_s,
            "wall_s": wall,
            "rows_per_s": wl.round_rows() / wall,
            "op_latency_p50_s": _quantile(lat, 0.5),
            "op_latency_p90_s": _quantile(lat, 0.9),
            "peak_rss_mb": _peak_rss_mb(spark),
            "write_amp": write_amp,
            "space_amp": space_amp,
        }
        report = {
            "info": {"gen_s": gen_s, "import_s": import_s, "session_s": session_s,
                     "setup_parts_s": wl.setup_parts,
                     "rounds": len(walls), "round_walls_s": walls, "ops": len(ops),
                     "latency_samples": len(lat), "cores": cores, "inputs": info,
                     "failed_frac": failed / max(1, len(ops)),
                     "failures": failures[:20]},
        }
        if args.trace:
            layers = _layer_report(wl, ctx, traced_ops, walls, extra)
            metrics = layers
            out_dir = os.path.join(root, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            ctx.tracer.dump(os.path.join(out_dir, f"trace-{wl.name}-{args.seed}.json"),
                            {"metrics": layers, "e2e": e2e})
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        report["result"] = {
            "correct": not failures and failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": metrics,
        }
        return report
    finally:
        if spark is not None:
            gateway = spark.sparkContext._gateway
            spark.stop()  # also stops the Python worker daemons
            gateway.shutdown()
            gateway.proc.terminate()  # the JVM this process launched
            gateway.proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there


def _layer_report(wl, ctx, ops, walls, extra) -> dict:
    """Per-layer metrics of a traced run, named ``<layer>.<metric>``.
    Layers the workload leaves idle report 0."""
    from layers import cross_cutting, owned_by, per_layer_units

    tr = ctx.tracer
    tr.harvest()
    vals, lazy = wl.layer_metrics(ctx, ops, extra["layer_pass"])
    vals.update(cross_cutting(tr, ctx.cores, len(walls), lazy))
    prof = ctx.spark.profile.profiler_collector._perf_profile_results
    vals["python.udf_s"] = sum(st.total_tt for st in prof.values()) / len(walls)
    vals["trace.overhead_s"] = statistics.median(walls) - extra["untraced_wall_s"]
    units = per_layer_units()
    missing = sorted(owned_by(wl.name) - set(vals))
    if missing:
        raise RuntimeError(f"{wl.name} did not produce per-layer metrics {missing}")
    return {k: {"value": float(vals.get(k, 0.0)), "unit": units[k]} for k in sorted(units)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(os.getcwd(), "etl_cli_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout holding etl_cli_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())
    if args.workload not in _workloads():
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    report = measure(args)
    print(json.dumps(report["info"]), file=sys.stderr)
    print(json.dumps(report["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
