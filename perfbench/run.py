"""Benchmark entry point.

    python3 perfbench/run.py --workload admin_plane --seed 1 --seconds 10 --trace 0

Runs one workload against the ``lakehouse_admin_spark`` package of the
checkout this file sits in, from one process. Inputs are generated from
``--seed``; every answer is checked. A run measures a fixed amount of work,
which ``--seconds`` scales (see README.md). The last stdout line is the result:

    {"correct": bool, "attempted": n, "failed": n, "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs the workload with its measured phases traced, reports
the per-layer metrics (see README.md), and writes the spans to
``.perfbench_out/trace-<workload>-<seed>.json``. All scratch files live
in ``.perfbench_tmp/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("admin_plane", "pipeline_batch")


def _load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _pin_env(tmp: str) -> dict:
    """Pin cores and every scratch location of Spark, the JVM and Python
    inside ``tmp``; returns what was pinned."""
    cpus = len(os.sched_getaffinity(0))
    dirs = {k: os.path.join(tmp, k) for k in ("local", "py", "java", "spark-warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_WAREHOUSE": dirs["spark-warehouse"],
        "TMPDIR": dirs["py"],
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['java']} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
    }
    os.environ.update(env)
    os.environ.pop("SPARK_GRAFT_SF_DIR", None)
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR
    return env


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    every one of them to end."""
    from pyspark import SparkContext

    from common import descendants

    procs = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for pid in procs:  # reap the ones that were our direct children
        try:
            os.waitpid(pid, os.WNOHANG)
        except ChildProcessError:
            pass


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "lakehouse_admin_spark", "engine.py")):
        print(f"perfbench: no lakehouse_admin_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = _load_spec()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in (spec["per_layer"] if args.trace else spec["end_to_end"])]

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    spark = None
    try:
        env = _pin_env(tmp)
        # tests/ for the repository's oracle check (run_oracle, normalize_rows)
        sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]
        from common import Ctx, RssSampler
        from tracing import Tracer

        rss = RssSampler().start()
        t = time.perf_counter()
        from lakehouse_admin_spark.session import get_spark

        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # job/stage info kept for the traced run's job counts
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).collect()
        session_start = time.perf_counter() - t

        ctx = Ctx(tmp=tmp, seed=args.seed, seconds=args.seconds,
                  traced=bool(args.trace), spark=spark, tracer=Tracer(spark.sparkContext))
        if args.workload == "admin_plane":
            import admin as workload
        else:
            import pipeline as workload
        t = time.perf_counter()
        out = workload.run(ctx)
        peak_mb = rss.stop()
        ctx.info["workload_wall_s"] = time.perf_counter() - t
        ctx.info["session_start_s"] = session_start

        if args.trace:
            ctx.tracer.finish()
            values = {"session.start_s": session_start, "process.peak_rss_mb": peak_mb,
                      "trace.overhead_frac": ctx.tracer.overhead_frac(),
                      **ctx.tracer.span_metrics(wanted),
                      **ctx.tracer.http_metrics(), **out["layers"]}
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            dump = os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json")
            ctx.tracer.dump(dump, {"workload": args.workload, "seed": args.seed})
            print(f"perfbench: spans written to {dump}", file=sys.stderr)
        else:
            values = out
        import pyspark

        print(json.dumps({"env": {
            **{k: v for k, v in env.items() if k in ("SPARK_GRAFT_CPUS", "SPARK_LOCAL_DIRS",
                                                     "SPARK_GRAFT_DRIVER_MEM")},
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"), **ctx.info,
            "failures": ctx.failures,
        }}, default=str))
        result = {
            "correct": ctx.failed == 0,
            "attempted": max(ctx.attempted, 1),
            "failed": ctx.failed,
            # a per-layer metric of a layer this workload never calls reads 0
            "metrics": {n: {"value": float(values[n] if not args.trace else values.get(n, 0.0)),
                            "unit": units[n]} for n in wanted},
        }
    finally:
        if spark is not None:
            t = time.perf_counter()
            _stop_spark(spark)
            print(f"perfbench: stopped in {time.perf_counter() - t:.1f}s", file=sys.stderr)
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
